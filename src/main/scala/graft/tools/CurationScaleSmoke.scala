package graft.tools

import graft.Catalog
import graft.llm.{Dedup, GraphAlgs, Pipeline, TextAnalysis}

import org.apache.spark.sql.DataFrame
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
  * Run: `sbt "runMain graft.tools.CurationScaleSmoke [sfDir] [copies,copies,...]"`.
  * Prints one JSON line per (scale, stage); record lands in
  * CURATION_SCALE_r13.json + PLANS.md.
  */
object CurationScaleSmoke {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // deterministic JSON decimals
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val copiesList = if (args.length > 1)
      args(1).split(",").toSeq.map(_.toInt) else Seq(1, 10)
    val spark = Catalog.localSession("graft-curation-scale-smoke")
    graft.functions.GraftFunctions.register(spark)

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

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def row(scale: Int, stage: String, rowsIn: Long, rowsOut: Long,
        secs: Double, extra: String = ""): Unit =
      println(s"""{"metric":"curation_scale_smoke","scale":$scale,""" +
        s""""stage":"$stage","rows_in":$rowsIn,"rows_out":$rowsOut,""" +
        s""""s":${"%.1f".format(secs)}$extra}""")

    val tokens = "cast(size(split(text, ' ')) as bigint)"
    val MixBudget = 1000000000L
    val PackBudget = 2048L

    copiesList.foreach { copies =>
      val docs = corpus(copies).cache()
      val nDocs = docs.count()

      // stage 1 — t02 quality gate: drop the degenerate tail (too
      // short/long or bottom-decile composite score)
      val (survivors, qS) = timed {
        val q = TextAnalysis.qualityScore(docs)
          .filter(col("len_ok") && col("quality_score") >= 0.2)
          .select("doc_id")
        val s = docs.join(q, "doc_id").cache()
        s.count()
        s
      }
      val nSurv = survivors.count()
      row(copies, "t02_quality_gate", nDocs, nSurv, qS)

      // stage 2 — d05 simhash near-dup pairs over SURVIVORS (the DAG
      // point: dedup runs on the quality-gated corpus, not the raw one)
      val (pairs, pS) = timed {
        val p = Dedup.simhashNearDupPairs(
          survivors.select("doc_id", "text")).cache()
        p.count()
        p
      }
      val nPairs = pairs.count()
      row(copies, "d05_neardup_pairs", nSurv, nPairs, pS)

      // stage 3 — d08 connected components = near-dup families.
      val (labels, cS) = timed {
        val l = GraphAlgs.connectedComponents(
          survivors.select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
          broadcastMaxNodes = GraphAlgs.DefaultBroadcastMaxNodes)
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
          .cache()
        l.count()
        l
      }
      val nFamilies = labels.select("cluster_id").distinct().count()
      // the r13 verdict's one superlinear stage: break its wall into
      // convergence ROUNDS × per-round cost, so the artifact shows
      // rounds grow O(log diameter) while per-round work tracks edges
      val ccExtra = GraphAlgs.lastCcStats.map { st =>
        val per = st.roundSecs.map(x => "%.2f".format(x)).mkString("[", ",", "]")
        s""","cc_rounds":${st.rounds},"cc_round_s":$per,""" +
          s""""cc_s_per_kpair":${"%.3f".format(
            if (nPairs == 0) 0.0 else cS * 1000.0 / nPairs)}"""
      }.getOrElse("")
      row(copies, "d08_families", nSurv, nFamilies, cS, ccExtra)

      // stage 4 — p27 leakage-safe split keyed on the family id
      val (split, sS) = timed {
        val sp = Dedup.familyCoherentSplit(labels).cache()
        sp.count()
        sp
      }
      val splitCounts = split.groupBy("split").count().collect()
        .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted
        .mkString(",")
      row(copies, "p27_leakage_safe_split", nSurv, nSurv, sS,
        s""","splits":{$splitCounts}""")

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
      val (mix, mS) = timed {
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
      val (packed, kS) = timed {
        val p = Pipeline.packSequences(train, PackBudget, col("lang"),
          col("doc_id"), expr(tokens))
        (p.count(), p.agg(max("bin_id")).first().getLong(0))
      }
      row(copies, "p01_pack_sequences", nTrain, packed._1, kS,
        s""","max_bin_id":${packed._2}""")

      train.unpersist(); split.unpersist(); labels.unpersist()
      pairs.unpersist(); survivors.unpersist(); docs.unpersist()
    }
    spark.stop()
  }
}
