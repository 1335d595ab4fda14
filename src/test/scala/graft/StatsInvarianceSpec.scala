package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 structural guard for the g09 class (r15 verdict item 3):
  * no iterative loop's join strategy may depend on INHERITED checkpoint
  * statistics. Round 15 proved the severed-stats truncation makes
  * implicit auto-broadcast reliance fail visibly — but g09 was caught
  * by a quiet-bench flag plus manual A/B. This spec catches the next
  * instance at test time: it runs every iterative gate query under
  * `graft.statsReset=stock` (plain checkpoints, origin stats inherited)
  * and under the default shim (stats severed), captures the physical
  * plan of every LOOP-BODY materialization (the checkpoint actions are
  * exactly the per-round plans), and asserts the join-strategy
  * sequences are IDENTICAL. A loop that leans on stats-based
  * auto-broadcast shows BroadcastHashJoin under stock and
  * SortMerge/ShuffledHash under the shim, and fails here — removing
  * any loop's explicit broadcast/repartition discipline reproduces
  * g09's regression as a red test instead of a bench flag.
  *
  * Both modes run the same query sequence against their own symlinked
  * copy of the corpus (memoized graph fixtures are keyed by dir, so
  * each mode builds its own memos in the same order — the captured
  * plan sequences stay comparable position by position).
  */
class StatsInvarianceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val JoinRe =
    ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r

  /** The gate queries whose loops truncate through CheckpointStats. */
  private val LoopQueries = Seq(
    "d08_conn_components", "g01_pagerank", "g02_label_propagation",
    "g05_bfs_layers", "g08_modularity", "g09_kcore_peel",
    "g12_incremental_components", "g14_truss_decomposition",
    "g15_harmonic_centrality", "g16_personalized_pagerank",
    "t34_textrank")

  private def linkedDir(tag: String): String = {
    val p = java.nio.file.Paths.get(s"/tmp/graft-statsinv-$tag")
    if (!java.nio.file.Files.exists(p,
        java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.createSymbolicLink(p,
        java.nio.file.Paths.get("/root/testdata/sf0.001"))
    p.toString
  }

  /** Runs `name` against `dir` under the given truncation mode and
    * returns, per captured checkpoint materialization, the sorted join
    * node names of its executed plan.
    */
  private def loopJoinProfile(name: String, dir: String,
      mode: Option[String]): Seq[Seq[String]] = {
    val captured =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName.toLowerCase.contains("checkpoint"))
          captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    mode match {
      case Some(m) => sys.props("graft.statsReset") = m
      case None    => sys.props.remove("graft.statsReset")
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // the execution-listener bus is asynchronous: drain until the
      // capture count is stable
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        Thread.sleep(100); waited += 1
        val cur = captured.size()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    } finally {
      spark.listenerManager.unregister(listener)
      sys.props.remove("graft.statsReset")
    }
    import scala.jdk.CollectionConverters._
    captured.asScala.toSeq.map(p =>
      JoinRe.findAllIn(p).toSeq.sorted)
  }

  test("iterative loop-body join strategies are invariant to the " +
    "stats-reset mode (no loop leans on inherited statistics)") {
    val stockDir = linkedDir("stock")
    val shimDir = linkedDir("shim")
    LoopQueries.foreach { name =>
      val stock = loopJoinProfile(name, stockDir, Some("stock"))
      val shim = loopJoinProfile(name, shimDir, None)
      assert(stock.nonEmpty,
        s"$name captured no loop materializations — listener broken?")
      assert(stock === shim,
        s"$name loop-body join strategies depend on inherited " +
          s"checkpoint statistics:\nstock: $stock\nshim:  $shim")
    }
  }
}
