package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured evidence for the round-13 count-min operators (q77 batch,
  * st30 streaming): grow a synthetic skewed key population 10×/100×
  * and measure, per scale,
  *
  *   - the sketch-side state: ALWAYS ≤ 4×64 grid cells (the point —
  *     st30's streaming state does not grow with arrivals);
  *   - the probe error against the count-min theory line: each probe
  *     over-counts by collision mass only, E[over per row] ≤ N/w, so
  *     the min over 4 rows sits well under N/w and the classic
  *     2N/w Markov bound holds with probability ≥ 1 − 2⁻⁴ per probe;
  *   - wall time for the one map-side-combinable aggregate the
  *     corpus crosses.
  *
  * Keys are deterministic skewed (user, day) cells: user = ⌊√i⌋ (user
  * u owns 2u+1 events — a linear heavy tail, so probes are genuine
  * heavy hitters), day = i mod 7. The grid build runs the REAL q77
  * cell arithmetic ([[graft.relational.RelationalQueries4.cmCells]]),
  * not a re-implementation. Run:
  * `sbt "runMain graft.tools.CountMinScaleSmoke"` — one JSON line per
  * scale (100k, 1M, 10M rows); record lands in CM_SCALE_r13.json.
  * [[run]] takes the row counts.
  */
object CountMinScaleSmoke {
  def main(args: Array[String]): Unit =
    ToolKit.main("graft-countmin-scale-smoke")(run(_, Seq(100000L, 1000000L, 10000000L)))

  /** One JSON line per row count in `ns`. */
  def run(spark: SparkSession, ns: Seq[Long]): Unit = {
    val W = 64L
    ToolKit.rungs(spark, ns) { n =>
      val keyed = spark.range(n).toDF("i")
        .select(expr("cast(floor(sqrt(i)) as bigint)").as("user_id"),
          expr("i % 7").as("day_i"))
        .withColumn("k", expr("(user_id % 1000003) * 100003L + day_i"))
      val (grid, gridS, _) = ToolKit.phase {
        keyed
          .select(posexplode(graft.relational.RelationalQueries4.cmCells)
            .as(Seq("r", "bucket")))
          .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
      // driver-side truth: the heaviest 10 keys and the grid probes —
      // the grid itself is ≤256 cells, so this math is exact and tiny
      val top = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("k").asc).limit(10)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val cellsOf = (key: Long) => graft.relational.RelationalQueries4
        .cmBucketsScala(key)
      val overs = top.map { case (key, exact) =>
        val est = cellsOf(key).zipWithIndex
          .map { case (bkt, r) => grid((r, bkt)) }.min
        est - exact
      }
      val nKeys = keyed.select(col("k")).distinct().count()
      ToolKit.emit("metric" -> "countmin_scale_smoke", "n_rows" -> n,
        "n_keys" -> nKeys, "state_cells" -> grid.size,
        "mean_over" -> overs.sum / overs.length,
        "max_over" -> overs.max, "n_over_w" -> n / W,
        "markov_bound_2n_over_w" -> 2 * n / W,
        "all_within_bound" -> (overs.max <= 2 * n / W),
        "grid_s" -> gridS)
    }
  }
}
