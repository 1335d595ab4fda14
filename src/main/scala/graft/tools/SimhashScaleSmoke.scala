package graft.tools

import graft.Catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured evidence for the 16-bit pigeonhole chunk currency: grows
  * the sf0.1 documents corpus 1×/2×/4× and counts the CANDIDATE pairs
  * (pre-hamming-filter join output) each chunk width generates, plus
  * the candidate-join wall time.
  *
  * Both currencies come from ONE fingerprint pass: bits 0–31 of
  * `graft_simhash64` are the round-8 32-bit simhash exactly (same
  * PolyHash32 fold, same ±1 bit sums), so `simhash & 0xFFFFFFFF`
  * cut into 4×8-bit chunks reproduces the old 1024-key join, while the
  * full fingerprint cut into 4×16-bit chunks is the shipped currency
  * (262144 keys).
  *
  * Corpus growth: copy i rewrites every word `w` to `w_i` (a narrow
  * map), so cross-copy pairs are never near-dups and within-copy
  * near-dup structure mirrors the original — true-pair density stays
  * ~linear in corpus size, isolating the chunk-collision term the
  * widths differ on. The expected shape: candidate pairs grow
  * ~quadratically at 8-bit (N²/1024 collision mass) and stay
  * ~linear-dominated at 16-bit until far larger N.
  *
  * Run: `sbt "runMain graft.tools.SimhashScaleSmoke [sfDir]"` (scales
  * 1×/2×/4×; [[run]] takes the scales). Prints one JSON line per
  * (scale, width); record lands in PLANS.md.
  */
object SimhashScaleSmoke {

  def main(args: Array[String]): Unit =
    ToolKit.main("graft-simhash-scale-smoke")(run(_,
      if (args.length > 0) args(0) else "/root/testdata/sf0.1", Seq(1, 2, 4)))

  /** One JSON line per (copy count in `scales`, chunk width). */
  def run(spark: SparkSession, sfDir: String, scales: Seq[Int]): Unit = {
    val base = Catalog.t(spark, sfDir, "documents").select("doc_id", "text")
    require(base.count() > 0)

    def corpus(copies: Int): DataFrame =
      (0 until copies).map { i =>
        if (i == 0) base
        else base.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          // suffix every word: copy-i docs are never near-dups of copy-j
          // docs, within-copy structure mirrors the original
          regexp_replace(col("text"), "(\\S+)", s"$$1_$i").as("text"))
      }.reduce(_ union _)

    def candidates(fp: DataFrame, bits: Int): (Long, Double) = {
      val mask = (1L << bits) - 1
      val field = if (bits == 8) "simhash & 4294967295" else "simhash"
      val chunked = fp.select(col("doc_id"),
          explode(expr(s"transform(sequence(0, 3), k -> " +
            s"struct(k as ci, shiftright($field, k * $bits) & $mask as cv))")).as("c"))
        .select(col("doc_id"), col("c.ci"), col("c.cv"))
      val a = chunked.select(col("doc_id").as("doc_a"), col("ci"), col("cv"))
      val bb = chunked.select(col("doc_id").as("doc_b"), col("ci"), col("cv"))
      val (n, secs, _) = ToolKit.phase {
        a.join(bb, Seq("ci", "cv"))
          .filter(col("doc_a") < col("doc_b"))
          .count()
      }
      (n, secs)
    }

    ToolKit.rungs(spark, scales) { f =>
      val fp = graft.llm.Dedup.simhashFingerprints(corpus(f)).cache()
      val nDocs = fp.count() // materialize once; both widths reuse
      Seq(8, 16).foreach { bits =>
        val (cand, secs) = candidates(fp, bits)
        ToolKit.emit("metric" -> "simhash_scale_smoke", "scale" -> f,
          "n_docs" -> nDocs, "chunk_bits" -> bits, "candidate_pairs" -> cand,
          "join_s" -> secs, "pairs_per_doc" -> cand.toDouble / nDocs)
      }
    }
  }
}
