package graft.tools

/** Single-query micro-bench: times each named registry query on the
  * sf0.1 corpus in a FRESH session (two consecutive runs — cold-ish
  * and warm), through the same noop sink Bench uses. The tool that
  * separates "the code path got slower" from "the bench session's
  * cache/ordering luck changed": run it at two commits and compare
  * warm runs. (Round-11 case study: d06/s11 looked 3× over the quiet
  * record in-session, but standalone warm times were identical at the
  * r10 and r11 commits — record variance, not a regression.)
  *
  * Usage: `sbt "runMain graft.tools.TimeQ d06_embedding_neardup ..."`.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // deterministic JSON decimals
    val spark = graft.Catalog.localSession("timeq")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { name =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"TIMEQ $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        // same run-to-run cache hygiene as the round-17 Bench fix: a
        // builder-cached subtree must not let run 2 time a populated
        // cache (run 2 stays the JIT-warm, cache-cold number)
        spark.catalog.clearCache()
        System.gc()
      }
    }
    spark.stop()
  }
}
