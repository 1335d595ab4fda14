package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured evidence for round 11's KMV operators (q72 set algebra,
  * st27 streaming cardinality): grow a synthetic population 10×/100×
  * and measure, per scale,
  *
  *   - the sketch-side state: ALWAYS k longs per group (the point —
  *     st27's streaming state does not grow with arrivals);
  *   - the estimator's relative error vs the exact distinct count,
  *     against the theoretical standard error 1/√(k−2) ≈ 12.7% at
  *     k = 64;
  *   - wall time for the one map-side-combinable aggregate the
  *     corpus crosses.
  *
  * Population ids are deterministic (spark.range + a fixed stride mix
  * so hash inputs aren't trivially sequential), so reruns reproduce
  * the same numbers. Run:
  * `sbt "runMain graft.tools.KmvScaleSmoke"` — one JSON line per
  * (scale, group) at 100k, 1M and 10M rows; record lands in
  * KMV_SCALE_r11.json. [[run]] takes the row counts.
  */
object KmvScaleSmoke {
  def main(args: Array[String]): Unit =
    ToolKit.main("graft-kmv-scale-smoke")(run(_, Seq(100000L, 1000000L, 10000000L)))

  /** One JSON line per (row count in `ns`, group). */
  def run(spark: SparkSession, ns: Seq[Long]): Unit = {
    val K = graft.relational.RelationalQueries4.KmvK
    ToolKit.rungs(spark, ns) { n =>
      // 4 groups of different true cardinality: group g owns ids whose
      // stride-mixed value ≡ g (mod 4), so exact NDV ≈ n/4 per group
      val pop = spark.range(n).toDF("i")
        .select(expr("pmod(hash(i), 4)").cast("int").as("g"),
          expr("cast(hash(i, 42) as string) || '-' || cast(i as string)")
            .as("uid"))
      val (sk, sketchS, _) = ToolKit.phase {
        pop
          .select(col("g"), expr("graft_polyhash32(uid)").as("h"))
          .groupBy(col("g")).agg(expr(s"graft_kmin(h, $K)").as("hs"))
          .collect()
      }
      val exact = pop.groupBy(col("g"))
        .agg(countDistinct(col("uid")).as("nd")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      sk.sortBy(_.getInt(0)).foreach { r =>
        val g = r.getInt(0)
        val hs = r.getSeq[Long](1)
        val est = graft.functions.KmvEstimator.scala(hs, K)
        val ex = exact(g)
        val errPpm = math.abs(est - ex) * 1000000L / ex
        ToolKit.emit("metric" -> "kmv_scale_smoke", "n_rows" -> n, "group" -> g,
          "k" -> K, "sketch_longs" -> hs.length, "exact_ndv" -> ex,
          "est_ndv" -> est, "err_ppm" -> errPpm,
          "se_theory_ppm" -> (1000000 / math.sqrt(K - 2)).toLong,
          "agg_s" -> sketchS)
      }
    }
  }
}
