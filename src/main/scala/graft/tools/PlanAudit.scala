package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Registry-wide physical-plan audit: build every gated query's
  * executed plan at sf0.001 and report which contain a
  * CartesianProduct or BroadcastNestedLoopJoin — the two operators
  * that turn into all-pairs work at cluster scale. The spec twin
  * (PlanQualitySpec's registry-wide guard) asserts the violator set
  * is exactly the commented allowlist; this main is the discovery /
  * debugging view of the same sweep.
  *
  * Run: `sbt "runMain graft.tools.PlanAudit [sfDir]"`.
  */
object PlanAudit {

  /** (query name, plan) for every registry entry, built serially. */
  def sweep(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    SparkEntry.registry.map { q =>
      q.name -> (try q.run(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"BUILD-FAILED: ${e.getMessage}" })
    }

  def main(args: Array[String]): Unit = ToolKit.main("graft-plan-audit") { spark =>
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    var bad = 0
    sweep(spark, sfDir).foreach { case (name, p) =>
      val cp = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin")
      val fail = p.startsWith("BUILD-FAILED")
      if (cp || bnlj || fail) {
        bad += 1
        ToolKit.emit(Seq("query" -> name, "cartesian" -> cp, "bnlj" -> bnlj) ++
          (if (fail) Seq("error" -> p.take(160)) else Nil): _*)
      }
    }
    ToolKit.emit("metric" -> "plan_audit", "queries" -> SparkEntry.registry.size,
      "flagged" -> bad)
  }
}
