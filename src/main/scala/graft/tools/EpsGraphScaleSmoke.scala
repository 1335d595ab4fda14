package graft.tools

import graft.TempDirs
import graft.llm.Similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measured evidence for the LSH candidate-mass scale story.
  *
  * Round 10 de-cartesianed c11 (epsilon graph via banded sign-LSH).
  * Round 11 fixed c11's recall (its own 16×4 low-threshold family,
  * measured 0.82 edge recall at eps) — and measured the systemic
  * problem: FIXED-width bucket spaces saturate, so candidate pairs per
  * vector DOUBLED every time the corpus doubled (8×12: 90→181→362 at
  * 10k/20k/40k). Round 12 retires that with the N-adaptive prefix
  * family ([[Similarity.adaptiveCandidatePairs]]: rowBits ≈ log₂N−2,
  * bands rising to hold recall) and a fixed-cardinality c11 panel.
  *
  * Round 13 extends the measured range past the old 16×16 ladder cap:
  * scales 16/32/64 (160k/320k/640k vectors) land on the raised
  * ladder's 16×16 and 19×17 tiers and ON the new 22×18 cap — the
  * sizes where the r12 verdict said flat candidate mass was asserted,
  * not measured.
  *
  * This smoke measures, per corpus scale (10k/20k/40k, r13 +160k/320k/
  * 640k vectors):
  *
  *   1. the retired fixed 8×12 family over the full corpus — the
  *      quadratic-trend contrast row (candidate pairs/vec doubles);
  *   2. the adaptive family over the full corpus — the round-12 claim:
  *      pairs/vec ~FLAT across doublings (d06/s11's candidate
  *      currency), with eps-edge recall vs the exact baseline where
  *      the baseline is runnable (1×/2×);
  *   3. s11's knn graph vs the EXACT knn graph (1×/2×): edge recall
  *      overall and restricted to exact edges with cosine ≥ 0.7 (the
  *      family's stated working range — the regime SemDeDup-style
  *      pruning acts on);
  *   4. c11's shipped shape — the CAPPED audit panel (2000 of the %5
  *      slice by LCG hash) under the 16×4 eps family: panel size and
  *      candidate mass flat as the corpus grows.
  *
  * Corpus shape mirrors what DBSCAN is for: every 100-id block plants
  * a 5-member cluster (shared base direction + small per-vector
  * perturbation, pairwise cosine ≈ 0.96), the other 95 vectors are
  * pseudo-random noise — so true epsilon-edge mass grows LINEARLY in N
  * while all-pairs grows quadratically. Vectors are generated
  * distributed (hash-of-index floats via Spark SQL, no driver
  * materialization) and deterministic, so reruns reproduce.
  *
  * Run: `sbt "runMain graft.tools.EpsGraphScaleSmoke [scale,scale,...]"`
  * (scale × 10,000 vectors; default 1,2,4,16,32,64,128) or
  * `... EpsGraphScaleSmoke blocked[:scale[:slices]]` (see [[blocked]]).
  * [[run]] and [[blocked]] take the vector counts. Prints one JSON line
  * per (scale, path); record lands in EPS_GRAPH_SCALE_r12.json +
  * PLANS.md.
  */
object EpsGraphScaleSmoke {

  private val Eps = 0.35
  private val KnnK = 3
  private val Metric = "eps_graph_scale_smoke"

  def main(args: Array[String]): Unit = {
    val app = "graft-eps-graph-scale-smoke"
    if (args.headOption.exists(_.startsWith("blocked"))) {
      val parts = args.head.split(":")
      val scale = if (parts.length > 1) parts(1).toInt else 256
      val slices = if (parts.length > 2) parts(2).toInt else 16
      ToolKit.main(app)(blocked(_, 10000L * scale, slices))
    } else {
      val scales = args.headOption.map(_.split(",").toSeq.map(_.toInt))
        .getOrElse(Seq(1, 2, 4, 16, 32, 64, 128))
      ToolKit.main(app)(run(_, scales.map(10000L * _)))
    }
  }

  // deterministic synthetic corpus: id % 100 < 5 → cluster member of
  // block (id div 100): shared base direction + 0.15-amplitude
  // per-vector jitter (pairwise cos ≈ 0.96 > 0.35); else noise vector
  private def corpus(spark: SparkSession, n: Long): DataFrame = {
    val base = "transform(sequence(0L, 63L), i -> " +
      "cast(pmod(hash(vec_id div 100, i), 1000) - 500 as float) / 500.0F)"
    val jitter = "transform(sequence(0L, 63L), i -> " +
      "cast(pmod(hash(vec_id, i), 1000) - 500 as float) / 500.0F)"
    spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        expr(s"""CASE WHEN vec_id % 100 < 5
                |THEN zip_with($base, $jitter, (b, j) -> b + 0.15F * j)
                |ELSE $jitter END""".stripMargin))
  }

  private def ratio(num: Long, den: Long): Option[Double] =
    if (den > 0) Some(num.toDouble / den) else None

  private def adaptiveBands(n: Long): String = {
    val (bands, rowBits) = Similarity.adaptiveFamily(n)
    s"${bands}x$rowBits (ADAPTIVE r12)"
  }

  /** The ladder: JSON lines per corpus size in `sizes` (vectors). The
    * round-13 rows (160k/320k/640k) are the first sizes past the old
    * 16×16 cap (131,072); round 14 adds 1.28M, the first doubling past
    * r13's measured range, landing ON the raised 25×19 cap tier. Above
    * 20k vectors, where exact all-pairs is unaffordable, a SAMPLED
    * ground-truth row ([[recallPanel]]) measures the eps/knn recall
    * columns instead of leaving them null. The exact all-pairs baseline
    * and the fixed-family contrast stay confined to small sizes
    * (quadratic by construction — the contrast trend is established at
    * 10k/20k/40k).
    */
  def run(spark: SparkSession, sizes: Seq[Long]): Unit =
    ToolKit.rungs(spark, sizes) { n =>
      val vecs = corpus(spark, n).cache()
      vecs.count()
      val exactRunnable = n <= 20000L

      // exact all-pairs eps-edge baseline (recall denominator)
      val exact =
        if (exactRunnable) Some(ToolKit.phase {
          Similarity.embeddingNearDups(vecs, Eps, exact = true).count()
        })
        else None
      val edgesExact = exact.map(_._1)
      ToolKit.emit("metric" -> Metric, "bands" -> "n/a", "path" -> "all_pairs",
        "n_vecs" -> n, "pairs_examined" -> n * (n - 1) / 2,
        "eps_edges" -> edgesExact, "total_s" -> exact.map(_._2))

      // CONTRAST row: the retired fixed 8×12 family — pairs/vec doubles
      // with N (the round-11 finding this smoke exists to keep visible).
      // Skipped above 40k: at 160k+ the fixed family's candidate set is
      // quadratic by construction (the very thing the ladder retires).
      if (n <= 40000L) {
        val (fixCand, fixS, _) = ToolKit.phase {
          Similarity.lshCandidatePairs(vecs).count()
        }
        ToolKit.emit("metric" -> Metric, "bands" -> "8x12 (FIXED - retired r12)",
          "path" -> "lsh_fixed_full", "n_vecs" -> n, "pairs_examined" -> fixCand,
          "pairs_per_vec" -> fixCand.toDouble / n, "candidates_s" -> fixS)
      }

      // ROUND-12 claim: adaptive prefix family — pairs/vec ~flat
      val (adCand, adCandS, _) = ToolKit.phase {
        Similarity.adaptiveCandidatePairs(vecs).count()
      }
      val adDf = Similarity.embeddingNearDups(vecs, Eps, adaptive = true)
        .cache()
      val (adEdges, adS, _) = ToolKit.phase { adDf.count() }
      ToolKit.emit("metric" -> Metric, "bands" -> adaptiveBands(n),
        "path" -> "lsh_adaptive_full", "n_vecs" -> n, "pairs_examined" -> adCand,
        "pairs_per_vec" -> adCand.toDouble / n, "eps_edges" -> adEdges,
        "edge_recall_at_eps" -> edgesExact.flatMap(ratio(adEdges, _)),
        "candidates_s" -> adCandS, "total_s" -> adS)

      if (!exactRunnable) {
        val adHits = adDf
          .select(col("vec_a").as("p_id"), col("vec_b").as("c_id"))
          .union(adDf.select(col("vec_b").as("p_id"), col("vec_a").as("c_id")))
        val knn = Similarity.knnGraph(vecs, KnnK, knownN = Some(n))
          .select(col("src").as("query_id"), col("dst").as("neighbor_id"))
        ToolKit.emit(Seq("metric" -> Metric, "bands" -> adaptiveBands(n),
          "path" -> "sampled_groundtruth") ++
          recallPanel(vecs, n, adHits, knn): _*)
      }

      // s11's knn graph vs the exact knn graph (the recall contract's
      // measured artifact). Exact graph = same window over the exact
      // all-pairs relation; runnable at 10k/20k.
      if (exactRunnable) {
        def knnOf(pairs: DataFrame): DataFrame = {
          val sym = pairs
            .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cosine"))
            .unionAll(pairs
              .select(col("vec_b").as("src"), col("vec_a").as("dst"), col("cosine")))
          val w = Window.partitionBy(col("src"))
            .orderBy(col("cosine").desc, col("dst").asc)
          sym.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= KnnK)
            .select(col("src"), col("dst"), col("cosine"))
        }
        val exactKnn = knnOf(Similarity.embeddingNearDups(
          vecs, minCosine = -1.0, exact = true)).cache()
        val nExact = exactKnn.count()
        val nExactHi = exactKnn.filter(col("cosine") >= 0.7).count()
        // the count() must sit INSIDE the timer: cache() is lazy, so
        // timing it alone records only plan construction (round-12
        // review — the first r12 artifact under-reported knn by ~10×)
        val (lshKnn, knnS, _) = ToolKit.phase {
          val g = Similarity.knnGraph(vecs, KnnK)
            .select(col("src"), col("dst")).cache()
          g.count()
          g
        }
        val hit = exactKnn.join(lshKnn, Seq("src", "dst"), "left_semi")
        val nHit = hit.count()
        val nHitHi = hit.filter(col("cosine") >= 0.7).count()
        ToolKit.emit("metric" -> Metric, "bands" -> adaptiveBands(n),
          "path" -> "knn_graph_vs_exact", "n_vecs" -> n, "k" -> KnnK,
          "exact_knn_edges" -> nExact, "knn_recall" -> ratio(nHit, nExact),
          "exact_knn_edges_cos_ge_0_7" -> nExactHi,
          "knn_recall_cos_ge_0_7" -> ratio(nHitHi, nExactHi),
          "knn_total_s" -> knnS)
      }

      // c11's SHIPPED shape: the CAPPED audit panel under the eps-tuned
      // 16×4 family. Panel size — and with it candidate mass — is flat
      // once the %5 slice outgrows the cap; edge recall vs the panel's
      // exact baseline stays measured at every scale.
      val panel = graft.llm.Clustering.dbscanPanel(vecs).cache()
      val np = panel.count()
      val (pExact, pExactS, _) = ToolKit.phase {
        Similarity.embeddingNearDups(panel, Eps, exact = true).count()
      }
      val (pCand, pCandS, _) = ToolKit.phase {
        Similarity.lshCandidatePairs(panel, 16, 4).count()
      }
      val (pEdges, pLshS, _) = ToolKit.phase {
        Similarity.embeddingNearDups(panel, Eps, bands = 16, rowBits = 4).count()
      }
      ToolKit.emit("metric" -> Metric, "bands" -> "16x4 (c11 eps-tuned)",
        "path" -> "lsh_banded_panel_capped", "n_vecs" -> n, "panel_vecs" -> np,
        "pairs_examined" -> pCand, "pairs_per_panel_vec" -> pCand.toDouble / np,
        "eps_edges" -> pEdges, "panel_exact_edges" -> pExact,
        "edge_recall_at_eps" -> ratio(pEdges, pExact),
        "exact_baseline_s" -> pExactS, "candidates_s" -> pCandS,
        "total_s" -> pLshS)
    }

  /** The sampled ground-truth recall fields (round 14), for the sizes
    * where exact all-pairs is unaffordable. A deterministic ~1k-probe
    * panel (every (n/1000)th id — uniform across cluster/noise blocks)
    * gets EXACT cosine against the full corpus in one broadcast pass
    * (the d28 shape). Eps recall = `epsHits` (the LSH path's eps edges
    * as `(p_id, c_id)`, both orientations) incident to probes over the
    * exact probe-incident eps edges; knn recall = `knn` (the LSH path's
    * knn graph as `(query_id, neighbor_id)`) restricted to probe
    * sources vs the probes' exact top-k.
    */
  private def recallPanel(vecs: DataFrame, n: Long, epsHits: DataFrame,
      knn: DataFrame): Seq[(String, Any)] = {
    val probeEvery = math.max(1L, n / 1000L)
    def isProbe(c: Column) = pmod(c, lit(probeEvery)) === 0L
    val probes = vecs.filter(isProbe(col("vec_id"))).cache()
    val nProbes = probes.count()
    // exact probe-incident eps edges (ground truth, broadcast pass)
    val q = probes.select(col("vec_id").as("p_id"), col("embedding").as("pe"))
      .withColumn("pn", expr("sqrt(graft_dot(pe, pe))"))
    val cnd = vecs.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      .withColumn("cn", expr("sqrt(graft_dot(ce, ce))"))
    val (gtEps, gtEpsS, _) = ToolKit.phase {
      val g = cnd.join(broadcast(q), col("p_id") =!= col("c_id"))
        .withColumn("cosine", expr("graft_dot(pe, ce) / (pn * cn)"))
        .filter(col("cosine") >= Eps)
        .select(col("p_id"), col("c_id")).cache()
      g.count()
      g
    }
    val nGtEps = gtEps.count()
    val nEpsHit = gtEps.join(epsHits.filter(isProbe(col("p_id"))),
      Seq("p_id", "c_id"), "left_semi").count()
    // exact top-k of the probes (same broadcast shape) vs the LSH knn
    // graph restricted to probe sources
    val (gtKnn, gtKnnS, _) = ToolKit.phase {
      val g = Similarity.cosineTopK(
        probes.select(col("vec_id").as("query_id"), col("embedding")),
        vecs.select(col("vec_id").as("neighbor_id"), col("embedding")),
        KnnK).cache()
      g.count()
      g
    }
    val nGtKnn = gtKnn.count()
    val nGtKnnHi = gtKnn.filter(col("cosine") >= 0.7).count()
    val (lshKnn, knnS, _) = ToolKit.phase {
      val g = knn.filter(isProbe(col("query_id"))).cache()
      g.count()
      g
    }
    val knnHit = gtKnn.join(lshKnn, Seq("query_id", "neighbor_id"),
      "left_semi").cache()
    val nKnnHit = knnHit.count()
    val nKnnHitHi = knnHit.filter(col("cosine") >= 0.7).count()
    Seq(gtEps, gtKnn, lshKnn, knnHit, probes).foreach(_.unpersist())
    Seq("n_vecs" -> n, "probes" -> nProbes, "k" -> KnnK,
      "gt_eps_edges" -> nGtEps,
      "eps_recall_sampled" -> ratio(nEpsHit, nGtEps),
      "exact_knn_edges" -> nGtKnn,
      "knn_recall" -> ratio(nKnnHit, nGtKnn),
      "exact_knn_edges_cos_ge_0_7" -> nGtKnnHi,
      "knn_recall_cos_ge_0_7" -> ratio(nKnnHitHi, nGtKnnHi),
      "gt_eps_s" -> gtEpsS, "gt_knn_s" -> gtKnnS, "knn_total_s" -> knnS)
  }

  /** The round-16 BLOCKED VERIFY row for `n` vectors (the 2.56M row).
    *
    * Round 15 established the 2.56M tier is NOT an algorithmic wall:
    * candidate mass stays sub-quadratic, but the verify join's fat
    * (pair + embedding) intermediate is one ~80 GB shuffle against a
    * ~78 GB free-disk ceiling on the measuring host. This mode closes
    * the row by never materializing that shuffle (guide §8 — move heavy
    * bytes once, and here: never move them at all):
    *
    *  1. the NARROW candidate relation (vec_a, vec_b — 16 B/pair) is
    *     computed once and parked as parquet;
    *  2. verification runs in `slices` sequential id-range blocks of
    *     vec_b: each block's embedding slice (n/slices rows ≈ 50 MB at
    *     2.56M/16) is BROADCAST, so after the SHUFFLE_HASH fetch of
    *     `ea` (narrow pair stream shuffled, embedding dimension table
    *     built — the round-15 fix) the fat intermediate is consumed
    *     in place by a broadcast hash join and NEVER crosses an
    *     exchange;
    *  3. each block's verified (vec_a, vec_b, cosine) rows (24 B/pair)
    *     land in parquet; the union IS the same pair set the unblocked
    *     verify produces (vec_b ranges partition the candidate set),
    *     re-read for eps-edge counts and the sampled-recall panel.
    *
    * Per-slice shuffle is ~1 GB (pairs/16 + the ea dimension table)
    * and the worst resident footprint is one slice's shuffle plus the
    * narrow parquet artifacts — the 80 GB sort/shuffle of the naive
    * plan never exists. Semantics are pinned by construction: same
    * candidate set, same graft_dot cosine, disjoint+complete blocks.
    * The parquet artifacts live in a scoped temp dir, deleted when the
    * row returns or throws.
    */
  def blocked(spark: SparkSession, n: Long, slices: Int): Unit =
    TempDirs.scoped("graft-eps-blocked") { dir =>
      def freeGb: Double = dir.toFile.getUsableSpace / 1e9
      val candPath = s"$dir/cand"
      val verPath = s"$dir/verified"
      val bands = adaptiveBands(n)

      val vecs = corpus(spark, n).cache()
      vecs.count()
      System.err.println(f"[blocked] n=$n family=$bands " +
        f"slices=$slices free=${freeGb}%.1fGB")

      // 1. narrow candidate relation, parked once
      val (_, candS, _) = ToolKit.phase {
        Similarity.adaptiveCandidatePairs(vecs, n)
          .write.mode("overwrite").parquet(candPath)
      }
      val nCand = spark.read.parquet(candPath).count()
      System.err.println(f"[blocked] candidates=$nCand " +
        f"(${nCand.toDouble / n}%.1f/vec) in ${candS}%.1fs free=${freeGb}%.1fGB")

      // 2. sequential id-range verify blocks (never the fat shuffle);
      // each phase's leading GC drops the previous slice's shuffle
      // files (the ContextCleaner removes them once the stage's RDDs
      // are collected)
      val e = vecs.select(col("vec_id"), col("embedding"))
        .withColumn("nrm", expr("sqrt(graft_dot(embedding, embedding))"))
      val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val per = (n + slices - 1) / slices
      val verifyS = (0 until slices).map { i =>
        val lo = i * per
        val hi = math.min(n, (i + 1) * per)
        val ebSlice = e.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
            col("nrm").as("nb"))
        val (_, sliceS, _) = ToolKit.phase {
          spark.read.parquet(candPath)
            .filter(col("vec_b") >= lo && col("vec_b") < hi)
            .join(ea.hint("SHUFFLE_HASH"), "vec_a")
            .join(broadcast(ebSlice), "vec_b")
            .withColumn("cosine", expr("graft_dot(ea, eb) / (na * nb)"))
            .select(col("vec_a"), col("vec_b"), col("cosine"))
            .write.mode("overwrite").parquet(s"$verPath/slice=$i")
        }
        System.err.println(f"[blocked] slice $i [$lo,$hi) took ${sliceS}%.1fs " +
          f"free=${freeGb}%.1fGB")
        sliceS
      }.sum

      // 3. the union of blocks IS the unblocked pair set — measure it
      val verified = spark.read.parquet(verPath)
      val nAll = verified.count()
      val nEps = verified.filter(col("cosine") >= Eps).count()
      ToolKit.emit("metric" -> Metric, "bands" -> bands,
        "path" -> "lsh_adaptive_blocked", "n_vecs" -> n, "slices" -> slices,
        "pairs_examined" -> nCand, "pairs_per_vec" -> nCand.toDouble / n,
        "verified_pairs" -> nAll, "eps_edges" -> nEps,
        "candidates_s" -> candS, "verify_s" -> verifyS)

      // 4. sampled ground truth (the r14 panel, sourced from the blocked
      // pair set). The LSH knn graph is the per-src window over the
      // blocked pairs; it is src-partitioned, so the panel's probe
      // filter returns exactly the probe rows of the full graph
      val sym = verified
        .select(col("vec_a").as("p_id"), col("vec_b").as("c_id"), col("cosine"))
        .union(verified
          .select(col("vec_b").as("p_id"), col("vec_a").as("c_id"), col("cosine")))
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("cosine").desc, col("c_id").asc)
      val knn = sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= KnnK)
        .select(col("p_id").as("query_id"), col("c_id").as("neighbor_id"))
      ToolKit.emit(Seq("metric" -> Metric, "bands" -> bands,
        "path" -> "sampled_groundtruth_blocked") ++
        recallPanel(vecs, n, sym.filter(col("cosine") >= Eps)
          .select(col("p_id"), col("c_id")), knn) ++
        Seq("free_gb_end" -> freeGb): _*)
      vecs.unpersist()
    }
}
