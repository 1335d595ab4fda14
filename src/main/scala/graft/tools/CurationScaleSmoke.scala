package graft.tools

import graft.{Catalog, Layout}
import graft.llm.{Dedup, GraphAlgs, Pipeline, TextAnalysis}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 13: the first artifact measuring the curation operators
  * COMPOSED, not one at a time — the end-to-end training-data DAG every
  * gated piece exists for:
  *
  *   quality gate (t02) → near-dup families (d05 pairs + d08
  *   components) → leakage-safe split (p27) → token-mix allocation
  *   (p06) → sequence packing (p01)
  *
  * over the sf0.1 documents corpus grown 1× and 10× by the
  * SimhashScaleSmoke word-suffix trick (copy i rewrites every word `w`
  * to `w_i`, so cross-copy pairs are never near-dups and within-copy
  * structure mirrors the original — true near-dup density stays linear
  * in corpus size). Each stage reports wall time + rows in/out; the
  * run ends with the DAG's end-to-end correctness claim measured at
  * scale: ZERO near-dup pairs straddle train/val/test (the p27
  * contract, asserted over every d05 pair, not sampled).
  *
  * Scale story being tested: every stage is narrow-plus-keyed (no
  * operator is pairwise in the corpus), so wall time should grow
  * ~linearly with the corpus — a super-linear stage is a regression in
  * exactly the place single-query benches can't see (composition keeps
  * intermediate results alive across stages).
  *
  * Run: `sbt "runMain graft.tools.CurationScaleSmoke [sfDir] [copies,copies,...]"`
  * (default copies 1,10; [[run]] takes the list). Prints one JSON line
  * per (scale, stage); the d08 row carries the run's own
  * [[GraphAlgs.CcStats]]. Record lands in CURATION_SCALE_r13.json +
  * PLANS.md.
  */
object CurationScaleSmoke {

  def main(args: Array[String]): Unit =
    ToolKit.main("graft-curation-scale-smoke")(run(_,
      if (args.length > 0) args(0) else "/root/testdata/sf0.1",
      if (args.length > 1) args(1).split(",").toSeq.map(_.toInt) else Seq(1, 10)))

  /** One JSON line per (copy count in `copiesList`, stage). */
  def run(spark: SparkSession, sfDir: String, copiesList: Seq[Int]): Unit = {
    val base = Catalog.t(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source")

    def corpus(copies: Int): DataFrame =
      (0 until copies).map { i =>
        if (i == 0) base
        else base.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1_$i").as("text"),
          col("lang"), col("source"))
      }.reduce(_ union _)

    // the stage's output cached and counted inside the phase
    def stage(df: => DataFrame): (DataFrame, Double) = {
      val (out, secs, _) = ToolKit.phase { val d = df.cache(); d.count(); d }
      (out, secs)
    }
    def row(scale: Int, stage: String, rowsIn: Long, rowsOut: Long,
        secs: Double, extra: (String, Any)*): Unit =
      ToolKit.emit(Seq("metric" -> "curation_scale_smoke", "scale" -> scale,
        "stage" -> stage, "rows_in" -> rowsIn, "rows_out" -> rowsOut,
        "s" -> secs) ++ extra: _*)

    val tokens = "cast(size(split(text, ' ')) as bigint)"
    val MixBudget = 1000000000L
    val PackBudget = 2048L

    ToolKit.rungs(spark, copiesList) { copies =>
      val docs = corpus(copies).cache()
      val nDocs = docs.count()

      // stage 1 — t02 quality gate: drop the degenerate tail (too
      // short/long or bottom-decile composite score)
      val (survivors, qS) = stage {
        val q = TextAnalysis.qualityScore(docs)
          .filter(col("len_ok") && col("quality_score") >= 0.2)
          .select("doc_id")
        docs.join(q, "doc_id")
      }
      val nSurv = survivors.count()
      row(copies, "t02_quality_gate", nDocs, nSurv, qS)

      // stage 2 — d05 simhash near-dup pairs over SURVIVORS (the DAG
      // point: dedup runs on the quality-gated corpus, not the raw one)
      val (pairs, pS) = stage {
        Dedup.simhashNearDupPairs(survivors.select("doc_id", "text"))
      }
      val nPairs = pairs.count()
      row(copies, "d05_neardup_pairs", nSurv, nPairs, pS)

      // stage 3 — d08 connected components = near-dup families.
      val ((labels, st), cS, _) = ToolKit.phase {
        val (l, st) = GraphAlgs.connectedComponentsWithStats(
          survivors.select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
          broadcastMaxNodes = Layout.DefaultBroadcastMaxNodes)
        val lc = l.select(col("id").as("doc_id"), col("component").as("cluster_id"))
          .cache()
        lc.count()
        (lc, st)
      }
      val nFamilies = labels.select("cluster_id").distinct().count()
      // the r13 verdict's one superlinear stage: break its wall into
      // convergence ROUNDS × per-round cost, so the artifact shows
      // rounds grow O(log diameter) while per-round work tracks edges
      row(copies, "d08_families", nSurv, nFamilies, cS,
        "cc_rounds" -> st.rounds, "cc_round_s" -> st.roundSecs,
        "cc_path" -> st.path, "cc_partitions" -> st.partitions,
        "cc_s_per_kpair" -> (if (nPairs == 0) 0.0 else cS * 1000.0 / nPairs))

      // stage 4 — p27 leakage-safe split keyed on the family id
      val (split, sS) = stage { Dedup.familyCoherentSplit(labels) }
      val splitCounts = scala.collection.immutable.TreeMap(
        split.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toIndexedSeq: _*)
      row(copies, "p27_leakage_safe_split", nSurv, nSurv, sS,
        "splits" -> splitCounts)

      // the end-to-end claim, asserted at scale: NO near-dup pair
      // straddles splits (every d05 pair, not a sample)
      val straddle = pairs
        .join(split.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b")).count()
      require(straddle == 0L,
        s"$straddle near-dup pairs straddle splits — p27 contract broken")
      row(copies, "leakage_check", nPairs, straddle, 0.0)

      // stage 5 — p06 token-mix allocation over the TRAIN split
      val train = survivors.join(
        split.filter(col("split") === "train").select("doc_id"), "doc_id")
        .cache()
      val nTrain = train.count()
      val (mix, mS, _) = ToolKit.phase {
        val m = Pipeline.mixAllocation(train, col("source"),
          expr(tokens), MixBudget)
        m.count()
        m
      }
      val allocSum = mix.agg(sum("alloc")).first().getLong(0)
      require(allocSum == MixBudget,
        s"mix allocation sums to $allocSum, not $MixBudget")
      row(copies, "p06_mix_allocation", nTrain, mix.count(), mS)

      // stage 6 — p01 sequence packing of the train split (lang shards)
      val ((nPacked, maxBin), kS, _) = ToolKit.phase {
        val p = Pipeline.packSequences(train, PackBudget, col("lang"),
          col("doc_id"), expr(tokens))
        (p.count(), p.agg(max("bin_id")).first().getLong(0))
      }
      row(copies, "p01_pack_sequences", nTrain, nPacked, kS,
        "max_bin_id" -> maxBin)
    }
  }
}
