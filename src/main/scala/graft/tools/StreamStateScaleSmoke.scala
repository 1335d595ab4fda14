package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured evidence that the complete-mode streaming family's state
  * stays BOUNDED under multi-micro-batch arrival growth — through the
  * real Structured Streaming machinery (file source with
  * `maxFilesPerTrigger`, shuffle-partition state stores, cross-batch
  * merges), not the batch-equivalent shapes the kappa specs compare
  * against. Per scale, for the count-min grid (st30's aggregation) and
  * the KMV sketch (st27's):
  *
  *   - rows arrive as 8 parquet shards consumed 1 file/trigger → 8
  *     micro-batches, so the final answer provably crossed 7
  *     cross-batch state merges;
  *   - the complete-mode result row count IS the state bound: ≤256
  *     grid cells / one sketch row of ≤64 longs per event type — at
  *     every arrival volume;
  *   - wall time and rows/s for the full 8-batch run;
  *   - a batch recount of the same aggregation must match EXACTLY
  *     (the kappa law, here asserted at smoke scale too).
  *
  * Keys mirror CountMinScaleSmoke's skewed (user, day) population so
  * the two artifacts describe the same corpus shape. Run:
  * `sbt "runMain graft.tools.StreamStateScaleSmoke"` — one JSON line
  * per (scale, op); record lands in STREAM_STATE_r13.json.
  */
object StreamStateScaleSmoke {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // deterministic JSON decimals
    val spark = graft.Catalog.localSession("graft-stream-state-scale-smoke",
      Map("spark.sql.shuffle.partitions" -> "8"))
    graft.functions.GraftFunctions.register(spark)

    Seq(1000000L, 10000000L).foreach { n =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"stream-smoke-$n").toString
      // skewed synthetic population, 8 shards (the micro-batch grain)
      spark.range(n).toDF("i")
        .select(
          expr("cast(floor(sqrt(i)) as bigint)").as("user_id"),
          expr("cast(i % 4 as int)").as("tmod"),
          expr("(cast(floor(sqrt(i)) as bigint) % 1000003) * 100003L" +
            " + i % 7").as("k"))
        .repartition(8)
        .write.mode("overwrite").parquet(dir)

      def streamed(tag: String)(agg: DataFrame => DataFrame): (DataFrame, Double) = {
        val schema = spark.read.parquet(dir).schema
        val name = s"${tag}_$n"
        val t0 = System.nanoTime()
        val q = agg(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir))
          .writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        (spark.table(name), (System.nanoTime() - t0) / 1e9)
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
      println(s"""{"metric":"stream_state_smoke","op":"countmin",""" +
        s""""n_rows":$n,"micro_batches":8,"state_rows":$gridRows,""" +
        s""""kappa_exact":$gridKappa,"wall_s":${"%.1f".format(gridS)},""" +
        s""""rows_per_s":${(n / gridS).toLong}}""")

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
      println(s"""{"metric":"stream_state_smoke","op":"kmv",""" +
        s""""n_rows":$n,"micro_batches":8,""" +
        s""""state_rows":${kmvState.length},""" +
        s""""max_sketch_longs":${kmvState.max},"k":$kmvK,""" +
        s""""wall_s":${"%.1f".format(kmvS)},""" +
        s""""rows_per_s":${(n / kmvS).toLong}}""")

      // clean up the shards
      graft.TempDirs.deleteNow(java.nio.file.Paths.get(dir))
    }
    spark.stop()
  }
}
