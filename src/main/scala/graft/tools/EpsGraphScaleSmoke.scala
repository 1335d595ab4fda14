package graft.tools

import graft.Catalog
import graft.llm.Similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Run: `sbt "runMain graft.tools.EpsGraphScaleSmoke"`.
  * Prints one JSON line per (scale, path); record lands in
  * EPS_GRAPH_SCALE_r12.json + PLANS.md.
  */
object EpsGraphScaleSmoke {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // deterministic JSON decimals
    val spark = Catalog.localSession("graft-eps-graph-scale-smoke")
    graft.functions.GraftFunctions.register(spark)

    // deterministic synthetic corpus: id % 100 < 5 → cluster member of
    // block (id div 100): shared base direction + 0.15-amplitude
    // per-vector jitter (pairwise cos ≈ 0.96 > 0.35); else noise vector
    def corpus(n: Long): DataFrame = {
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

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def ratio(num: Long, den: Option[Long]): String =
      den.filter(_ > 0L).map(d => "%.3f".format(num.toDouble / d))
        .getOrElse("null")

    val eps = 0.35
    val knnK = 3

    // ---------------- round-16 BLOCKED VERIFY mode (the 2.56M row) ----
    //
    // `runMain graft.tools.EpsGraphScaleSmoke blocked[:scale[:slices]]`
    //
    // Round 15 established the 2.56M tier is NOT an algorithmic wall:
    // candidate mass stays sub-quadratic, but the verify join's fat
    // (pair + embedding) intermediate is one ~80 GB shuffle against a
    // ~78 GB free-disk ceiling on this box. This mode closes the row by
    // never materializing that shuffle (guide §8 — move heavy bytes
    // once, and here: never move them at all):
    //
    //  1. the NARROW candidate relation (vec_a, vec_b — 16 B/pair) is
    //     computed once and parked as parquet;
    //  2. verification runs in `slices` sequential id-range blocks of
    //     vec_b: each block's embedding slice (n/slices rows ≈ 50 MB at
    //     2.56M/16) is BROADCAST, so after the SHUFFLE_HASH fetch of
    //     `ea` (narrow pair stream shuffled, embedding dimension table
    //     built — the round-15 fix) the fat intermediate is consumed
    //     in place by a broadcast hash join and NEVER crosses an
    //     exchange;
    //  3. each block's verified (vec_a, vec_b, cosine) rows (24 B/pair)
    //     land in parquet; the union IS the same pair set the unblocked
    //     verify produces (vec_b ranges partition the candidate set),
    //     re-read for eps-edge counts and the sampled-recall panel.
    //
    // Per-slice shuffle is ~1 GB (pairs/16 + the ea dimension table)
    // and the worst resident footprint is one slice's shuffle plus the
    // narrow parquet artifacts — the 80 GB sort/shuffle of the naive
    // plan never exists. Semantics are pinned by construction: same
    // candidate set, same graft_dot cosine, disjoint+complete blocks.
    if (args.headOption.exists(_.startsWith("blocked"))) {
      val parts = args.head.split(":")
      val scale = if (parts.length > 1) parts(1).toInt else 256
      val slices = if (parts.length > 2) parts(2).toInt else 16
      blockedRow(spark, corpus(10000L * scale), 10000L * scale,
        slices, eps, knnK)
      spark.stop()
      return
    }

    // scales 16/32/64 (160k/320k/640k vectors) are the round-13 rows:
    // the first sizes past the old 16×16 cap (131,072). Round 14 adds
    // scale 128 (1.28M vectors — the first doubling past r13's
    // measured range, landing ON the raised 25×19 cap tier) and, at
    // every scale where exact all-pairs is unaffordable, a SAMPLED
    // ground-truth recall row (exact cosine for a ~1k-probe panel
    // against the full corpus — one broadcast pass, the d28 shape), so
    // the eps/knn recall columns are measured at large N instead of
    // null. The exact all-pairs baseline and the fixed-family contrast
    // stay confined to small scales (quadratic by construction — the
    // contrast trend is established at 1×/2×/4×).
    val scales = args.headOption.map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(1, 2, 4, 16, 32, 64, 128))
    scales.foreach { scale =>
      val n = 10000L * scale
      val vecs = corpus(n).cache()
      vecs.count()
      val exactRunnable = scale <= 2

      // exact all-pairs eps-edge baseline (recall denominator)
      val (edgesExact, exactS) =
        if (exactRunnable) {
          val r = timed {
            Similarity.embeddingNearDups(vecs, eps, exact = true).count()
          }
          (Some(r._1), Some(r._2))
        } else (None, None)
      println(s"""{"metric":"eps_graph_scale_smoke","bands":"n/a","path":"all_pairs",""" +
        s""""n_vecs":$n,"pairs_examined":${n * (n - 1) / 2},""" +
        s""""eps_edges":${edgesExact.map(_.toString).getOrElse("null")},""" +
        s""""total_s":${exactS.map(t => "%.1f".format(t)).getOrElse("null")}}""")

      // CONTRAST row: the retired fixed 8×12 family — pairs/vec doubles
      // with N (the round-11 finding this smoke exists to keep visible).
      // Skipped above 4×: at 160k+ the fixed family's candidate set is
      // quadratic by construction (the very thing the ladder retires).
      if (scale <= 4) {
        val (fixCand, fixS) = timed { Similarity.lshCandidatePairs(vecs).count() }
        println(s"""{"metric":"eps_graph_scale_smoke","bands":"8x12 (FIXED - retired r12)","path":"lsh_fixed_full",""" +
          s""""n_vecs":$n,"pairs_examined":$fixCand,""" +
          s""""pairs_per_vec":${"%.1f".format(fixCand.toDouble / n)},""" +
          s""""candidates_s":${"%.1f".format(fixS)}}""")
      }

      // ROUND-12 claim: adaptive prefix family — pairs/vec ~flat
      val (bandsA, rowBitsA) = Similarity.adaptiveFamily(n)
      val (adCand, adCandS) = timed {
        Similarity.adaptiveCandidatePairs(vecs).count()
      }
      val adDf = Similarity.embeddingNearDups(vecs, eps, adaptive = true)
        .cache()
      val (adEdges, adS) = timed { adDf.count() }
      println(s"""{"metric":"eps_graph_scale_smoke","bands":"${bandsA}x$rowBitsA (ADAPTIVE r12)","path":"lsh_adaptive_full",""" +
        s""""n_vecs":$n,"pairs_examined":$adCand,""" +
        s""""pairs_per_vec":${"%.1f".format(adCand.toDouble / n)},""" +
        s""""eps_edges":$adEdges,""" +
        s""""edge_recall_at_eps":${ratio(adEdges, edgesExact)},""" +
        s""""candidates_s":${"%.1f".format(adCandS)},""" +
        s""""total_s":${"%.1f".format(adS)}}""")

      // ROUND-14: sampled ground truth at the sizes where exact
      // all-pairs is unaffordable. A deterministic ~1k-probe panel
      // (every (n/1000)th id — uniform across cluster/noise blocks)
      // gets EXACT cosine against the full corpus in one broadcast
      // pass; eps recall = adaptive eps-edges incident to probes over
      // exact probe-incident eps-edges, knn recall = s11's graph
      // restricted to probe sources vs the probes' exact top-k.
      if (!exactRunnable) {
        val probeEvery = math.max(1L, n / 1000L)
        def isProbe(c: org.apache.spark.sql.Column) =
          pmod(c, lit(probeEvery)) === 0L
        val probes = vecs.filter(isProbe(col("vec_id"))).cache()
        val nProbes = probes.count()
        // exact probe-incident eps edges (ground truth, broadcast pass)
        val q = probes.select(col("vec_id").as("p_id"),
          col("embedding").as("pe"))
          .withColumn("pn", expr("sqrt(graft_dot(pe, pe))"))
        val cnd = vecs.select(col("vec_id").as("c_id"),
          col("embedding").as("ce"))
          .withColumn("cn", expr("sqrt(graft_dot(ce, ce))"))
        val (gtEps, gtEpsS) = timed {
          val g = cnd.join(broadcast(q), col("p_id") =!= col("c_id"))
            .withColumn("cosine", expr("graft_dot(pe, ce) / (pn * cn)"))
            .filter(col("cosine") >= eps)
            .select(col("p_id"), col("c_id")).cache()
          g.count()
          g
        }
        val nGtEps = gtEps.count()
        val adHits = adDf
          .select(col("vec_a").as("p_id"), col("vec_b").as("c_id"))
          .union(adDf.select(col("vec_b").as("p_id"), col("vec_a").as("c_id")))
          .filter(isProbe(col("p_id")))
        val nEpsHit = gtEps.join(adHits, Seq("p_id", "c_id"), "left_semi")
          .count()
        // exact top-k of the probes (same broadcast shape) vs s11's
        // full-corpus knn graph restricted to probe sources
        val (gtKnn, gtKnnS) = timed {
          val g = Similarity.cosineTopK(
            probes.select(col("vec_id").as("query_id"), col("embedding")),
            vecs.select(col("vec_id").as("neighbor_id"), col("embedding")),
            knnK).cache()
          g.count()
          g
        }
        val nGtKnn = gtKnn.count()
        val nGtKnnHi = gtKnn.filter(col("cosine") >= 0.7).count()
        val (lshKnn, knnS) = timed {
          val g = Similarity.knnGraph(vecs, knnK, knownN = Some(n))
            .filter(isProbe(col("src")))
            .select(col("src").as("query_id"), col("dst").as("neighbor_id"))
            .cache()
          g.count()
          g
        }
        val knnHit = gtKnn.join(lshKnn, Seq("query_id", "neighbor_id"),
          "left_semi").cache()
        val nKnnHit = knnHit.count()
        val nKnnHitHi = knnHit.filter(col("cosine") >= 0.7).count()
        println(s"""{"metric":"eps_graph_scale_smoke","bands":"${bandsA}x$rowBitsA (ADAPTIVE r12)","path":"sampled_groundtruth",""" +
          s""""n_vecs":$n,"probes":$nProbes,"k":$knnK,""" +
          s""""gt_eps_edges":$nGtEps,""" +
          s""""eps_recall_sampled":${ratio(nEpsHit, Some(nGtEps))},""" +
          s""""exact_knn_edges":$nGtKnn,""" +
          s""""knn_recall":${ratio(nKnnHit, Some(nGtKnn))},""" +
          s""""exact_knn_edges_cos_ge_0_7":$nGtKnnHi,""" +
          s""""knn_recall_cos_ge_0_7":${ratio(nKnnHitHi, Some(nGtKnnHi))},""" +
          s""""gt_eps_s":${"%.1f".format(gtEpsS)},""" +
          s""""gt_knn_s":${"%.1f".format(gtKnnS)},""" +
          s""""knn_total_s":${"%.1f".format(knnS)}}""")
        Seq(gtEps, gtKnn, lshKnn, knnHit, probes).foreach(_.unpersist())
      }

      // s11's knn graph vs the exact knn graph (the recall contract's
      // measured artifact). Exact graph = same window over the exact
      // all-pairs relation; runnable at 1×/2×.
      if (exactRunnable) {
        import org.apache.spark.sql.expressions.Window
        def knnOf(pairs: DataFrame): DataFrame = {
          val sym = pairs
            .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cosine"))
            .unionAll(pairs
              .select(col("vec_b").as("src"), col("vec_a").as("dst"), col("cosine")))
          val w = Window.partitionBy(col("src"))
            .orderBy(col("cosine").desc, col("dst").asc)
          sym.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= knnK)
            .select(col("src"), col("dst"), col("cosine"))
        }
        val exactKnn = knnOf(Similarity.embeddingNearDups(
          vecs, minCosine = -1.0, exact = true)).cache()
        val nExact = exactKnn.count()
        val nExactHi = exactKnn.filter(col("cosine") >= 0.7).count()
        // the count() must sit INSIDE the timer: cache() is lazy, so
        // timing it alone records only plan construction (round-12
        // review — the first r12 artifact under-reported knn by ~10×)
        val (lshKnn, knnS) = timed {
          val g = Similarity.knnGraph(vecs, knnK)
            .select(col("src"), col("dst")).cache()
          g.count()
          g
        }
        val hit = exactKnn.join(lshKnn, Seq("src", "dst"), "left_semi")
        val nHit = hit.count()
        val nHitHi = hit.filter(col("cosine") >= 0.7).count()
        println(s"""{"metric":"eps_graph_scale_smoke","bands":"${bandsA}x$rowBitsA (ADAPTIVE r12)","path":"knn_graph_vs_exact",""" +
          s""""n_vecs":$n,"k":$knnK,"exact_knn_edges":$nExact,""" +
          s""""knn_recall":${ratio(nHit, Some(nExact))},""" +
          s""""exact_knn_edges_cos_ge_0_7":$nExactHi,""" +
          s""""knn_recall_cos_ge_0_7":${ratio(nHitHi, Some(nExactHi))},""" +
          s""""knn_total_s":${"%.1f".format(knnS)}}""")
        exactKnn.unpersist(); lshKnn.unpersist()
      }

      // c11's SHIPPED shape: the CAPPED audit panel under the eps-tuned
      // 16×4 family. Panel size — and with it candidate mass — is flat
      // once the %5 slice outgrows the cap; edge recall vs the panel's
      // exact baseline stays measured at every scale.
      val panel = graft.llm.Clustering.dbscanPanel(vecs).cache()
      val np = panel.count()
      val (pExact, pExactS) = timed {
        Similarity.embeddingNearDups(panel, eps, exact = true).count()
      }
      val (pCand, pCandS) = timed {
        Similarity.lshCandidatePairs(panel, 16, 4).count()
      }
      val (pEdges, pLshS) = timed {
        Similarity.embeddingNearDups(panel, eps, bands = 16, rowBits = 4).count()
      }
      println(s"""{"metric":"eps_graph_scale_smoke","bands":"16x4 (c11 eps-tuned)","path":"lsh_banded_panel_capped",""" +
        s""""n_vecs":$n,"panel_vecs":$np,"pairs_examined":$pCand,""" +
        s""""pairs_per_panel_vec":${"%.1f".format(pCand.toDouble / np)},""" +
        s""""eps_edges":$pEdges,"panel_exact_edges":$pExact,""" +
        s""""edge_recall_at_eps":${ratio(pEdges, Some(pExact))},""" +
        s""""exact_baseline_s":${"%.1f".format(pExactS)},""" +
        s""""candidates_s":${"%.1f".format(pCandS)},""" +
        s""""total_s":${"%.1f".format(pLshS)}}""")
      panel.unpersist()
      adDf.unpersist()
      vecs.unpersist()
    }
    spark.stop()
  }

  /** The blocked-verify ladder row (see the mode comment in main). */
  private def blockedRow(spark: SparkSession, corpus: DataFrame, n: Long,
      slices: Int, eps: Double, knnK: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def freeGb: Double =
      new java.io.File("/tmp").getUsableSpace / 1e9
    val base = "/tmp/graft-eps-blocked"
    graft.TempDirs.deleteNow(java.nio.file.Paths.get(base))
    val candPath = s"$base/cand"
    val verPath = s"$base/verified"
    val (bandsA, rowBitsA) = Similarity.adaptiveFamily(n)

    val vecs = corpus.cache()
    vecs.count()
    System.err.println(f"[blocked] n=$n family=${bandsA}x$rowBitsA " +
      f"slices=$slices free=${freeGb}%.1fGB")

    // 1. narrow candidate relation, parked once
    val (_, candS) = timed {
      Similarity.adaptiveCandidatePairs(vecs, n)
        .write.mode("overwrite").parquet(candPath)
    }
    val nCand = spark.read.parquet(candPath).count()
    System.err.println(f"[blocked] candidates=$nCand " +
      f"(${nCand.toDouble / n}%.1f/vec) in ${candS}%.1fs free=${freeGb}%.1fGB")

    // 2. sequential id-range verify blocks (never the fat shuffle)
    val e = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("sqrt(graft_dot(embedding, embedding))"))
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val per = (n + slices - 1) / slices
    var verifyS = 0.0
    (0 until slices).foreach { i =>
      val lo = i * per
      val hi = math.min(n, (i + 1) * per)
      val ebSlice = e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
          col("nrm").as("nb"))
      val (_, sliceS) = timed {
        spark.read.parquet(candPath)
          .filter(col("vec_b") >= lo && col("vec_b") < hi)
          .join(ea.hint("SHUFFLE_HASH"), "vec_a")
          .join(broadcast(ebSlice), "vec_b")
          .withColumn("cosine", expr("graft_dot(ea, eb) / (na * nb)"))
          .select(col("vec_a"), col("vec_b"), col("cosine"))
          .write.mode("overwrite").parquet(s"$verPath/slice=$i")
      }
      verifyS += sliceS
      // drop the slice's shuffle files before the next one starts: the
      // ContextCleaner removes them when the stage's RDDs are GC'd
      System.gc()
      System.err.println(f"[blocked] slice $i [$lo,$hi) took ${sliceS}%.1fs " +
        f"free=${freeGb}%.1fGB")
    }

    // 3. the union of blocks IS the unblocked pair set — measure it
    val verified = spark.read.parquet(s"$verPath/slice=*")
    val nAll = verified.count()
    val nEps = verified.filter(col("cosine") >= eps).count()
    println(s"""{"metric":"eps_graph_scale_smoke","bands":"${bandsA}x$rowBitsA (ADAPTIVE r12)","path":"lsh_adaptive_blocked",""" +
      s""""n_vecs":$n,"slices":$slices,"pairs_examined":$nCand,""" +
      s""""pairs_per_vec":${"%.1f".format(nCand.toDouble / n)},""" +
      s""""verified_pairs":$nAll,"eps_edges":$nEps,""" +
      s""""candidates_s":${"%.1f".format(candS)},""" +
      s""""verify_s":${"%.1f".format(verifyS)}}""")

    // 4. sampled ground truth (the r14 panel, sourced from the blocked
    // pair set): exact probe-incident eps edges + exact probe top-k
    val probeEvery = math.max(1L, n / 1000L)
    def isProbe(c: org.apache.spark.sql.Column) =
      pmod(c, lit(probeEvery)) === 0L
    val probes = vecs.filter(isProbe(col("vec_id"))).cache()
    val nProbes = probes.count()
    val q = probes.select(col("vec_id").as("p_id"), col("embedding").as("pe"))
      .withColumn("pn", expr("sqrt(graft_dot(pe, pe))"))
    val cnd = vecs.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      .withColumn("cn", expr("sqrt(graft_dot(ce, ce))"))
    val (gtEps, gtEpsS) = timed {
      val g = cnd.join(broadcast(q), col("p_id") =!= col("c_id"))
        .withColumn("cosine", expr("graft_dot(pe, ce) / (pn * cn)"))
        .filter(col("cosine") >= eps)
        .select(col("p_id"), col("c_id")).cache()
      g.count()
      g
    }
    val nGtEps = gtEps.count()
    val sym = verified
      .select(col("vec_a").as("p_id"), col("vec_b").as("c_id"), col("cosine"))
      .union(verified
        .select(col("vec_b").as("p_id"), col("vec_a").as("c_id"), col("cosine")))
    val adHits = sym.filter(col("cosine") >= eps)
      .filter(isProbe(col("p_id"))).select(col("p_id"), col("c_id"))
    val nEpsHit = gtEps.join(adHits, Seq("p_id", "c_id"), "left_semi").count()
    val (gtKnn, gtKnnS) = timed {
      val g = Similarity.cosineTopK(
        probes.select(col("vec_id").as("query_id"), col("embedding")),
        vecs.select(col("vec_id").as("neighbor_id"), col("embedding")),
        knnK).cache()
      g.count()
      g
    }
    val nGtKnn = gtKnn.count()
    val nGtKnnHi = gtKnn.filter(col("cosine") >= 0.7).count()
    // s11's knn graph from the blocked pair set: the per-src window is
    // src-partitioned, so restricting to probe sources BEFORE the
    // window returns exactly the probe rows of the full graph
    val (lshKnn, knnS) = timed {
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("cosine").desc, col("c_id").asc)
      val g = sym.filter(isProbe(col("p_id")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= knnK)
        .select(col("p_id").as("query_id"), col("c_id").as("neighbor_id"))
        .cache()
      g.count()
      g
    }
    val knnHit = gtKnn.join(lshKnn, Seq("query_id", "neighbor_id"),
      "left_semi").cache()
    val nKnnHit = knnHit.count()
    val nKnnHitHi = knnHit.filter(col("cosine") >= 0.7).count()
    def ratio(num: Long, den: Long): String =
      if (den > 0) "%.3f".format(num.toDouble / den) else "null"
    println(s"""{"metric":"eps_graph_scale_smoke","bands":"${bandsA}x$rowBitsA (ADAPTIVE r12)","path":"sampled_groundtruth_blocked",""" +
      s""""n_vecs":$n,"probes":$nProbes,"k":$knnK,""" +
      s""""gt_eps_edges":$nGtEps,""" +
      s""""eps_recall_sampled":${ratio(nEpsHit, nGtEps)},""" +
      s""""exact_knn_edges":$nGtKnn,""" +
      s""""knn_recall":${ratio(nKnnHit, nGtKnn)},""" +
      s""""exact_knn_edges_cos_ge_0_7":$nGtKnnHi,""" +
      s""""knn_recall_cos_ge_0_7":${ratio(nKnnHitHi, nGtKnnHi)},""" +
      s""""gt_eps_s":${"%.1f".format(gtEpsS)},""" +
      s""""gt_knn_s":${"%.1f".format(gtKnnS)},""" +
      s""""knn_total_s":${"%.1f".format(knnS)},""" +
      s""""free_gb_end":${"%.1f".format(freeGb)}}""")
    Seq(gtEps, gtKnn, lshKnn, knnHit, probes, vecs).foreach(_.unpersist())
  }
}
