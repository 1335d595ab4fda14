package graft.tools

import graft.{Catalog, Layout, TempDirs}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured evidence that the complete-mode streaming family's state
  * stays BOUNDED under multi-micro-batch arrival growth — through the
  * real Structured Streaming machinery (file source with
  * `maxFilesPerTrigger`, shuffle-partition state stores, cross-batch
  * merges), not the batch-equivalent shapes the kappa specs compare
  * against. Per scale, for the count-min grid (st30's aggregation) and
  * the KMV sketch (st27's):
  *
  *   - rows arrive as `batches` parquet shards (8 in `main`) consumed
  *     1 file/trigger → one micro-batch each, so the final answer
  *     provably crossed `batches - 1` cross-batch state merges;
  *   - the complete-mode result row count IS the state bound: ≤256
  *     grid cells / one sketch row of ≤64 longs per event type — at
  *     every arrival volume;
  *   - wall time and rows/s for the full run;
  *   - a batch recount of the same aggregation must match EXACTLY
  *     (the kappa law, here asserted at smoke scale too).
  *
  * Keys mirror CountMinScaleSmoke's skewed (user, day) population so
  * the two artifacts describe the same corpus shape. Run:
  * `sbt "runMain graft.tools.StreamStateScaleSmoke"` — one JSON line
  * per (scale, op) at 1M and 10M rows ([[run]] takes the row counts);
  * the streams borrow `Layout.StreamStatePartitions` and
  * each scale's shards live in a scoped temp dir. Record lands in
  * STREAM_STATE_r13.json.
  */
object StreamStateScaleSmoke {
  def main(args: Array[String]): Unit =
    ToolKit.main("graft-stream-state-scale-smoke")(
      run(_, Seq(1000000L, 10000000L), 8))

  /** Two JSON lines (countmin, kmv) per row count in `ns`, each streamed
    * in `batches` micro-batches.
    */
  def run(spark: SparkSession, ns: Seq[Long], batches: Int): Unit =
    Catalog.withConfs(spark, Layout.StreamStatePartitions) {
      ToolKit.rungs(spark, ns) { n =>
        TempDirs.scoped(s"stream-smoke-$n") { shards =>
          rung(spark, n, batches, shards.toString)
        }
      }
    }

  private def rung(spark: SparkSession, n: Long, batches: Int,
                   dir: String): Unit = {
    // skewed synthetic population, one shard per micro-batch
    spark.range(n).toDF("i")
      .select(
        expr("cast(floor(sqrt(i)) as bigint)").as("user_id"),
        expr("cast(i % 4 as int)").as("tmod"),
        expr("(cast(floor(sqrt(i)) as bigint) % 1000003) * 100003L" +
          " + i % 7").as("k"))
      .repartition(batches)
      .write.mode("overwrite").parquet(dir)

    def streamed(tag: String)(agg: DataFrame => DataFrame): (DataFrame, Double) = {
      val schema = spark.read.parquet(dir).schema
      val name = s"${tag}_$n"
      val (_, secs, _) = ToolKit.phase {
        val q = agg(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir))
          .writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
      (spark.table(name), secs)
    }

    // count-min grid (st30's aggregation)
    val (grid, gridS) = streamed("cm") { raw =>
      raw.select(posexplode(graft.relational.RelationalQueries4.cmCells)
        .as(Seq("r", "bucket")))
        .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
    }
    val gridRows = grid.count()
    val gridBatch = spark.read.parquet(dir)
      .select(posexplode(graft.relational.RelationalQueries4.cmCells)
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val gridKappa = grid.collect().map(_.toSeq).toSet ==
      gridBatch.collect().map(_.toSeq).toSet
    ToolKit.emit("metric" -> "stream_state_smoke", "op" -> "countmin",
      "n_rows" -> n, "micro_batches" -> batches, "state_rows" -> gridRows,
      "kappa_exact" -> gridKappa, "wall_s" -> gridS,
      "rows_per_s" -> (n / gridS).toLong)

    // KMV sketch per type (st27's aggregation)
    val kmvK = graft.relational.RelationalQueries4.KmvK
    val (kmv, kmvS) = streamed("kmv") { raw =>
      raw.select(col("tmod"),
        expr("graft_polyhash32(cast(user_id as string))").as("h"))
        .groupBy(col("tmod")).agg(expr(s"graft_kmin(h, $kmvK)").as("hs"))
    }
    val kmvState = kmv.select(col("tmod"),
      expr("size(hs)").as("longs")).collect()
      .map(r => r.getInt(1)).toSeq
    ToolKit.emit("metric" -> "stream_state_smoke", "op" -> "kmv",
      "n_rows" -> n, "micro_batches" -> batches, "state_rows" -> kmvState.length,
      "max_sketch_longs" -> kmvState.max, "k" -> kmvK,
      "wall_s" -> kmvS, "rows_per_s" -> (n / kmvS).toLong)
  }
}
