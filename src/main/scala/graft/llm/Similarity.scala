package graft.llm

import graft.{Catalog, QueryDef}
import graft.Materialize.SessionMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * - s01: brute-force cosine top-k — the exactness baseline. Dot products
  *   run as codegen'd higher-order functions (`zip_with` + `aggregate`,
  *   sequential left fold with a double accumulator), which the DuckDB
  *   oracle reproduces with `list_reduce` over the same fold order, so
  *   results are bit-identical.
  * - s02: LSH-bucketed ANN — the scale path: 16 deterministic random
  *   hyperplanes hash each vector to a 16-bit bucket; candidates only
  *   join within a bucket (shuffle keyed by bucket, never all-pairs).
  *
  * At 100 TB the broadcast side is the query set (small by construction);
  * the candidate scan stays embarrassingly parallel.
  */
object Similarity {

  private[llm] val NumQueries = 16 // vec_id < 16 are the "query" vectors
  private val TopK = 5

  /** Sequential-left-fold dot product — the codegen'd
    * [[graft.functions.ArrayDotProduct]] kernel (identical IEEE fold
    * order to the oracle's `list_reduce`).
    */
  private[llm] def sparkDot(a: String, b: String): String = s"graft_dot($a, $b)"

  /** The same fold in DuckDB: prepend 0.0 and list_reduce in index order. */
  /** L2 norm with the ZERO-VECTOR GUARD: a zero embedding (real crawls
    * deliver them — failed encoders emit all-zeros) must yield cosine 0
    * against everything, not a DIVIDE_BY_ZERO that kills the stage
    * under ANSI mode. `dot(x, zero) = 0` for every x, so mapping the
    * zero norm to 1 makes every cosine involving a zero vector exactly
    * 0 while leaving all other values bit-identical. Both engines carry
    * the same guard so the oracle compare stays exact.
    */
  private[llm] def sparkNorm(x: String): String = {
    val d = sparkDot(x, x)
    s"(CASE WHEN $d = 0 THEN cast(1 as double) ELSE sqrt($d) END)"
  }

  private[llm] def duckNorm(x: String): String = {
    val d = duckDot(x, x)
    s"(CASE WHEN $d = 0 THEN cast(1 as double) ELSE sqrt($d) END)"
  }

  private[llm] def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(cast(0 as double), " +
      s"list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"

  def all: Seq[QueryDef] = Seq(
    QueryDef("s01_cosine_topk", Some(cosineOracle), cosineSpark),
    QueryDef("s02_ann_lsh", Some(annLshOracle), annLshSpark),
    QueryDef("s03_ann_ivf", Some(ivfOracle), ivfSpark),
    QueryDef("s04_ann_recall", Some(annRecallOracle), annRecallSpark),
    QueryDef("s05_quantize_int8", Some(quantizeOracle), quantizeSpark),
    QueryDef("s06_pq_encode", Some(pqOracle), pqSpark),
    QueryDef("s09_filtered_ann", Some(filteredAnnOracle), filteredAnnSpark),
    QueryDef("s10_multiprobe_ann", Some(multiProbeOracle), multiProbeSpark),
    QueryDef("s11_knn_graph", Some(knnGraphOracle), (s, d) =>
      knnGraph(Catalog.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")), KnnK,
        knownN = Some(corpusN(s, d)))),
    QueryDef("s12_hard_negatives", Some(hardNegOracle), (s, d) => {
      val e = Catalog.t(s, d, "embeddings")
      hardNegatives(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("label"), col("embedding")),
        e.select(col("vec_id").as("neighbor_id"), col("label"), col("embedding")),
        TopK)
    }),
    QueryDef("d06_embedding_neardup", Some(nearDupOracle), nearDupSpark),
    QueryDef("s13_range_search", Some(rangeSearchOracle), rangeSearchSpark),
    QueryDef("s14_ivf_stats", Some(ivfStatsOracle), ivfStatsSpark),
    QueryDef("s15_binary_ann", Some(binaryAnnOracle), binaryAnnSpark),
    QueryDef("s16_recall_curve", Some(recallCurveOracle), recallCurveSpark),
    QueryDef("s17_truncated_recall", Some(truncatedRecallOracle),
      truncatedRecallSpark),
    QueryDef("s18_mmr_rerank", Some(mmrOracle), mmrSpark),
    QueryDef("s20_nprobe_sweep", Some(nprobeSweepOracle), nprobeSweepSpark),
    QueryDef("s21_rank_fusion", Some(rankFusionOracle), rankFusionSpark),
    QueryDef("d29_adaptive_family_report", Some(familyReportOracle),
      familyReportSpark),
    QueryDef("d30_cross_label_neardup", Some(crossLabelOracle),
      crossLabelSpark)
  )

  // ----------------------------------------------- hard-negative mining

  /** Per-query top-k most-similar candidates with a DIFFERENT label —
    * the hard negatives contrastive embedding training feeds on (s09's
    * filtered top-k with the label predicate inverted). Queries are the
    * small broadcast side by contract (s01's shape); the inequality-only
    * join plans as a broadcast nested loop, so candidates stream
    * embarrassingly parallel. The |Q|x|C| scored stream is then
    * PRE-REDUCED with a per-partition bounded heap (<= |Q| x k rows per
    * task survive) before the per-query window — without it, one window
    * task per query would absorb ALL of that query's candidates, the
    * width/skew bound the rest of the repo avoids.
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("query_id"), col("label"),
      col("embedding").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
    val c = candidates.select(col("neighbor_id"),
      col("label").as("neg_label"), col("embedding").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val scored = broadcast(q)
      .join(c, col("label") =!= col("neg_label"))
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .select("query_id", "neighbor_id", "label", "neg_label", "cosine")
    // per-partition top-k per query under the SAME total order the
    // window uses ((cosine desc, neighbor_id asc); neighbor_id is
    // unique, so the order is total and the global top-k is contained
    // in the union of per-partition top-ks). Heap memory per task is
    // |Q| x k rows — bounded by the queries-are-broadcast-small
    // contract already in force. Quality order: best = (highest cosine,
    // lowest neighbor_id).
    val reduced = boundedTopKPerKey(scored, "query_id", k) { schema =>
      val cosIdx = schema.fieldIndex("cosine")
      val nIdx = schema.fieldIndex("neighbor_id")
      Ordering.by[org.apache.spark.sql.Row, (Double, Long)](
        r => (r.getDouble(cosIdx), -r.getAs[Number](nIdx).longValue))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reduced
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "label", "neg_label", "cosine", "rn")
  }

  /** Per-partition bounded top-k pre-reduce: keep at most `k` rows per
    * `keyCol` group per partition under `quality` (a TOTAL best-first
    * order — callers break ties on a unique id column), so a downstream
    * per-key `row_number` window ranks at most |keys| x k x P rows
    * instead of the full scored relation. Because the order is total,
    * the global per-key top-k is contained in the union of per-partition
    * top-ks; the window then just finalizes ranks. Heap memory per task
    * is |keys| x k rows — callers keep the key side broadcast-small.
    */
  private[llm] def boundedTopKPerKey(df: DataFrame, keyCol: String, k: Int)(
      quality: org.apache.spark.sql.types.StructType => Ordering[org.apache.spark.sql.Row])
      : DataFrame = {
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val byQuality = quality(schema)
    df.mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[org.apache.spark.sql.Row]]
      it.foreach { r =>
        // the queue uses the REVERSE order so its head is the worst
        // retained row and dequeue() evicts it
        val h = heaps.getOrElseUpdate(r.getAs[Number](keyIdx).longValue,
          scala.collection.mutable.PriorityQueue.empty(byQuality.reverse))
        h.enqueue(r)
        if (h.size > k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  private def hardNegOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, label,
       |    cast(embedding AS DOUBLE[]) AS qa FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |qn AS (SELECT query_id, label, qa, ${duckNorm("qa")} AS qn FROM q),
       |c AS (SELECT vec_id AS neighbor_id, label AS neg_label,
       |    cast(embedding AS DOUBLE[]) AS ca FROM embeddings),
       |cn AS (SELECT neighbor_id, neg_label, ca, ${duckNorm("ca")} AS cn
       |  FROM c),
       |p AS (SELECT query_id, neighbor_id, label, neg_label,
       |    ${duckDot("qa", "ca")} / (qn * cn) AS cosine
       |  FROM qn JOIN cn ON label <> neg_label),
       |r AS (SELECT query_id, neighbor_id, label, neg_label, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM p)
       |SELECT query_id, neighbor_id, label, neg_label, cosine, rn
       |FROM r WHERE rn <= $TopK""".stripMargin

  // ----------------------------------------------------- k-NN graph

  private val KnnK = 3

  /** k-NN graph construction over the banded sign-LSH candidate set:
    * symmetrize the candidate pairs, then keep each node's top-k
    * neighbors by exact cosine (dst tiebreak). The input of SemDeDup-
    * style pruning and graph-based curation — and the standard
    * scalable approximation of the quadratic exact k-NN graph: every
    * stage is the already-gated d06 candidate machinery plus one
    * node-keyed window.
    *
    * RECALL CONTRACT (round 12, stated where it used to be silent):
    * this is the standard LSH-knn approximation — each node's "k
    * nearest" are the k best among its LSH CANDIDATES, not among the
    * whole corpus. Under the N-adaptive prefix family the per-pair
    * candidate probability is 1−(1−p^rowBits)^bands with p = 1−θ/π,
    * held ≈ 0.74 at cos 0.9 across ladder tiers and decaying toward 0
    * below cos ≈ 0.7 — so edges whose true neighbors are high-cosine
    * (the regime knn pruning targets) are found with that probability,
    * while low-cosine "neighbors" (near-orthogonal vectors; SemDeDup
    * does not act on them) are best-effort fill from residual band
    * collisions. Measured knn recall vs the exact graph ships in
    * EPS_GRAPH_SCALE_r12.json (EpsGraphScaleSmoke's knn rows). The
    * `minCosine = -1` keeps the fill: ranking ALL candidates is what
    * bounds result rows at k per node, and under the adaptive family
    * the candidate mass itself is bounded (≈ 4·bands per vector), so
    * no threshold is needed for scale safety — that was the round-11
    * flag, retired by the ladder, not by a floor.
    */
  def knnGraph(vecs: DataFrame, k: Int,
      knownN: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized ONCE (round 16): the symmetrizing union below
    // consumes the pair relation twice, and without the eager
    // checkpoint the whole LSH candidate + verify pipeline (the
    // dominant cost at every corpus size) executed once PER UNION LEG —
    // the worked-example rule (guide §8): decide on narrow rows once,
    // never recompute the heavy pass to re-read its output. The
    // checkpoint is narrow (vec_a, vec_b, cosine) — ~24 B/pair.
    val pairs = embeddingNearDups(vecs, minCosine = -1.0, adaptive = true,
      knownN = knownN).localCheckpoint(true)
    val sym = pairs
      .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cosine"))
      .unionAll(pairs
        .select(col("vec_b").as("src"), col("vec_a").as("dst"), col("cosine")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst").asc)
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("cosine"), col("rank"))
  }

  private def knnGraphOracle: String = {
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |n AS (SELECT vec_id, va, ${duckNorm("va")} AS nn FROM v),
       |$duckAdaptiveCtes,
       |$duckCandCte,
       |p AS (SELECT vec_a, vec_b,
       |    ${duckDot("a.va", "b.va")} / (a.nn * b.nn) AS cosine
       |  FROM cand JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b),
       |sym AS (SELECT vec_a AS src, vec_b AS dst, cosine FROM p
       |  UNION ALL SELECT vec_b, vec_a, cosine FROM p),
       |r AS (SELECT *, row_number() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst ASC) AS rank FROM sym)
       |SELECT src, dst, cosine, cast(rank as int) AS rank
       |FROM r WHERE rank <= $KnnK""".stripMargin
  }

  // --------------------------------------------------- multi-probe ANN

  /** Multi-probe LSH: each query probes its own sign bucket PLUS the 16
    * single-bit-flip neighbor buckets (the standard recall fix for
    * bucket-boundary misses — a vector near a hyperplane lands on
    * either side, and flipping that plane's bit reaches it). Probe
    * count is queries x 17 — still a keyed bucket join, never
    * all-pairs; candidates are deduped before the exact cosine.
    */
  def multiProbeLshAnn(queries: DataFrame, candidates: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val q0 = bucketed(queries).select(col("query_id"),
      col("embedding").as("qa"), col("nrm").as("qn"), col("bucket"))
    val probes = (0 until NumPlanes).map(j => s"cast(bucket ^ ${1 << j} as int)")
      .mkString("array(cast(bucket as int), ", ", ", ")")
    val q = q0.select(col("query_id"), col("qa"), col("qn"),
      explode(expr(probes)).as("bucket"))
    val c = bucketed(candidates).select(col("neighbor_id"),
      col("embedding").as("ca"), col("nrm").as("cn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(c, "bucket")
      .filter(!lit(excludeSelf) || col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qa"), col("qn"),
        col("neighbor_id"), col("ca"), col("cn"))
      .distinct() // a candidate reachable via several probes scores once
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  private def multiProbeSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    multiProbeLshAnn(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")), 3)
  }

  private def multiProbeOracle: String = {
    val planeLits = planes.map(_.mkString("[", ", ", "]"))
    val bucketExpr = planeLits.zipWithIndex.map { case (p, j) =>
      s"CASE WHEN ${duckDot("va", p)} > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")
    val flips = (0 until NumPlanes).map(j => s"xor(bucket, ${1 << j})")
      .mkString("[bucket, ", ", ", "]")
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |b AS (SELECT vec_id, va, ${duckNorm("va")} AS nn,
       |    cast($bucketExpr as int) AS bucket FROM v),
       |qp AS (SELECT vec_id, va, nn, cast(unnest($flips) as int) AS bucket
       |  FROM b WHERE vec_id < $NumQueries),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, q.va AS qa, q.nn AS qn,
       |    c.vec_id AS neighbor_id, c.va AS ca, c.nn AS cn
       |  FROM qp q JOIN b c USING (bucket)
       |  WHERE q.vec_id <> c.vec_id),
       |p AS (SELECT query_id, neighbor_id,
       |    ${duckDot("qa", "ca")} / (qn * cn) AS cosine FROM cand),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM p)
       |SELECT query_id, neighbor_id, cosine, rn FROM r WHERE rn <= 3""".stripMargin
  }

  // ------------------------------------------------------ filtered ANN

  /** Metadata-filtered vector search: top-k among candidates sharing
    * the query's `label` — the "filtered vector search" every serving
    * stack needs (category-scoped recommendations, per-tenant search).
    * The label equality is part of the JOIN key, so the search space
    * prunes BEFORE any distance math; at scale the label join is keyed
    * (or the label is the partition column and the filter prunes
    * partitions), never a post-filter over an unfiltered top-k (which
    * under-fills k when the filter is selective).
    */
  def filteredCosineTopK(queries: DataFrame, candidates: DataFrame,
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("query_id"), col("label"),
      col("embedding").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
    val c = candidates.select(col("neighbor_id"),
      col("label").as("clabel"), col("embedding").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(c, col("label") === col("clabel")
        && col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "label", "cosine", "rn")
  }

  private def filteredAnnSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    filteredCosineTopK(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("label"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("label"), col("embedding")),
      TopK)
  }

  private def filteredAnnOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, label,
       |    cast(embedding AS DOUBLE[]) AS qa FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |qn AS (SELECT query_id, label, qa, ${duckNorm("qa")} AS qn FROM q),
       |c AS (SELECT vec_id AS neighbor_id, label AS clabel,
       |    cast(embedding AS DOUBLE[]) AS ca FROM embeddings),
       |cn AS (SELECT neighbor_id, clabel, ca, ${duckNorm("ca")} AS cn FROM c),
       |p AS (SELECT query_id, neighbor_id, label,
       |    ${duckDot("qa", "ca")} / (qn * cn) AS cosine
       |  FROM qn JOIN cn ON label = clabel AND query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id, label, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM p)
       |SELECT query_id, neighbor_id, label, cosine, rn FROM r WHERE rn <= $TopK""".stripMargin

  // ---------------------------------------------- product quantization

  // PQ: split each vector into M subvectors; encode each against a
  // per-subspace codebook (deterministic: the every-100th vectors, as
  // with IVF centroids). IVF+PQ is the standard billion-scale ANN
  // memory layout: 64 floats become M=4 code bytes. The encode is a
  // shuffle-free narrow map (codebooks inline as literals, same trick
  // as the IVF cell assignment); exact squared reconstruction error is
  // oracle-checked.
  private[llm] val PqM = 4            // subspaces
  // def, not val: `Dim` is declared further down the object and a val
  // here would read it during initialization as 0
  private def PqSubDim = Dim / PqM

  private def pqSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    pqEncode(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      PqM)
  }

  /** Public API: product-quantization encode. `codebook` rows supply
    * the codewords for every subspace (small by contract — collected
    * and inlined, so encoding is a narrow map). Returns one code per
    * subspace plus the exact total squared reconstruction error.
    */
  def pqEncode(vecs: DataFrame, codebook: DataFrame, m: Int): DataFrame = {
    val cents = codebook.select(col("cid").cast("long"),
      col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "pqEncode needs a non-empty codebook")
    require(cents.length <= MaxInlineCentroids,
      s"pqEncode inlines the codebook as literals; ${cents.length} codewords " +
        s"exceed MaxInlineCentroids=$MaxInlineCentroids — train a smaller " +
        "codebook (PQ codebooks are 256-ish entries per subspace by design)")
    val dim = cents.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    // per-subspace argmin fold over the inlined codeword slices:
    // iterate in cid order, replace on strictly-smaller distance ->
    // ties keep the lowest cid (same pick as row_number(d asc, cid asc))
    val bestCols = (0 until m).map { mi =>
      val arr = cents.map { case (cid, emb) =>
        val slice = emb.slice(mi * sub, (mi + 1) * sub)
        s"named_struct('cid', cast($cid as bigint), " +
          s"'ce', array(${slice.map(dlit).mkString(",")}))"
      }.mkString("array(", ", ", ")")
      val dist = s"aggregate(zip_with(slice(va, ${mi * sub + 1}, $sub), cc.ce, " +
        "(x, y) -> (x - y) * (x - y)), cast(0 as double), (a, x) -> a + x)"
      expr(
        s"""aggregate(
           |  transform($arr, cc -> named_struct('cid', cc.cid, 'd', $dist)),
           |  named_struct('cid', cast(-1 as bigint), 'd', cast('Infinity' as double)),
           |  (acc, x) -> IF(x.d < acc.d, x, acc))""".stripMargin).as(s"best_$mi")
    }
    vecs
      .withColumn("va", expr("cast(embedding as array<double>)"))
      .select(col("vec_id") +: bestCols: _*)
      .select(col("vec_id") +:
        (0 until m).map(mi => col(s"best_$mi").getField("cid").as(s"code_$mi")) :+
        (0 until m).map(mi => col(s"best_$mi").getField("d"))
          .reduce(_ + _).as("sq_err"): _*)
  }

  private def pqOracle: String = {
    val sub = PqSubDim
    val codeCols = (0 until PqM).map(mi =>
      s"max(CASE WHEN m = $mi THEN cid END) AS code_$mi").mkString(",\n  ")
    // sq_err adds the per-subspace minima in FIXED m order (Spark folds
    // left over m ascending; an unordered SQL sum() could differ in the
    // last bit)
    val errSum = (0 until PqM).map(mi =>
      s"max(CASE WHEN m = $mi THEN d END)").reduce((a, b) => s"($a + $b)")
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca FROM v WHERE vec_id % $CentroidEvery = 0),
       |ms AS (SELECT unnest(range(0, $PqM)) AS m),
       |pairs AS (SELECT v.vec_id, ms.m, c.cid,
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(range(1, $sub + 1),
       |        i -> (va[m * $sub + i] - ca[m * $sub + i])
       |           * (va[m * $sub + i] - ca[m * $sub + i]))),
       |      (a, b) -> a + b) AS d
       |  FROM v, ms, c),
       |best AS (SELECT vec_id, m, cid, d,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d ASC, cid ASC) AS rn
       |  FROM pairs)
       |SELECT vec_id,
       |  $codeCols,
       |  $errSum AS sq_err
       |FROM best WHERE rn = 1
       |GROUP BY vec_id""".stripMargin
  }

  // ------------------------------------------- int8 embedding quantization

  // Symmetric per-vector int8 quantization — the 4x storage shrink every
  // embedding store applies before ANN at scale. scale = maxabs/127;
  // q_i = floor(x/scale + 0.5) (half-up, identical IEEE ops in both
  // engines); the output reports the exact reconstruction error per
  // vector. A pure narrow map: no shuffle at any size. Zero vectors
  // keep scale 0 and error 0.
  private def quantizeSpark(s: SparkSession, d: String): DataFrame =
    quantizeInt8(Catalog.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding")))

  /** Public API: per-vector int8 quantization stats over an
    * `(vec_id, embedding)` frame: `scale`, `max_abs_err`, `sum_sq_err`
    * (exact, index-ordered folds — bit-deterministic).
    */
  def quantizeInt8(vecs: DataFrame): DataFrame = {
    val err = "(x - floor(x / scale + 0.5d) * scale)"
    vecs
      .withColumn("va", expr("cast(embedding as array<double>)"))
      .withColumn("scale", expr(
        "aggregate(va, cast(0 as double), (a, x) -> greatest(a, abs(x))) / 127"))
      .withColumn("max_abs_err", expr(
        s"CASE WHEN scale = 0 THEN cast(0 as double) ELSE " +
          s"aggregate(va, cast(0 as double), (a, x) -> greatest(a, abs($err))) END"))
      .withColumn("sum_sq_err", expr(
        s"CASE WHEN scale = 0 THEN cast(0 as double) ELSE " +
          s"aggregate(va, cast(0 as double), (a, x) -> a + $err * $err) END"))
      .select("vec_id", "scale", "max_abs_err", "sum_sq_err")
  }

  private def quantizeOracle: String = {
    val err = "(x - floor(x / scale + 0.5) * scale)"
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |m AS (SELECT vec_id, va,
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(va, x -> abs(x))), (a, b) -> greatest(a, b)) / 127
       |    AS scale FROM v)
       |SELECT vec_id, scale,
       |  CASE WHEN scale = 0 THEN cast(0 as double) ELSE
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(va, x -> abs($err))), (a, b) -> greatest(a, b)) END
       |    AS max_abs_err,
       |  CASE WHEN scale = 0 THEN cast(0 as double) ELSE
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(va, x -> $err * $err)), (a, b) -> a + b) END
       |    AS sum_sq_err
       |FROM m""".stripMargin
  }

  // --------------------------------------------------- ANN recall metric

  /** Recall@3 of the LSH ANN path against the exact brute-force top-3 —
    * the evaluation loop you run before trusting an ANN index at scale.
    * Both pipelines are the already-verified s01/s02 shapes; the metric
    * join is per-query and tiny.
    */
  private def annRecallSpark(s: SparkSession, d: String): DataFrame = {
    val exact = cosineTopKSpark(s, d, 3).select(col("query_id"), col("neighbor_id"))
    val lsh = annLshSpark(s, d).select(col("query_id"), col("neighbor_id"))
    val m = exact.join(lsh, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_match"))
    // query-id universe from a narrow scan — re-running the brute-force
    // pipeline just to enumerate 16 ids would double the heavy job
    Catalog.t(s, d, "embeddings").filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"))
      .join(m, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (coalesce(col("n_match"), lit(0L)).cast("double") / 3).as("recall_at_3"))
  }

  private def annRecallOracle: String =
    s"""WITH exact AS (${cosineTopKOracle(3)}),
       |lsh AS ($annLshOracle),
       |m AS (SELECT e.query_id, count(*) AS n_match
       |  FROM exact e JOIN lsh l ON e.query_id = l.query_id
       |    AND e.neighbor_id = l.neighbor_id
       |  GROUP BY e.query_id),
       |q AS (SELECT DISTINCT query_id FROM exact)
       |SELECT q.query_id, cast(coalesce(n_match, 0) as bigint) AS n_match,
       |  cast(coalesce(n_match, 0) as double) / 3 AS recall_at_3
       |FROM q LEFT JOIN m USING (query_id)""".stripMargin

  // ------------------------------------------- embedding-cosine near-dup

  // Embedding near-dup pairs above a cosine threshold. The GATED plan is
  // the scale path: banded sign-LSH candidate generation (8 bands x 12
  // deterministic hyperplanes — d02's banded-minhash idiom applied to
  // s02's sign buckets) followed by exact cosine ONLY on candidate
  // pairs. Nothing unbounded is ever broadcast and there is no
  // cartesian; every join keys on (band, bucket) or vec_id (asserted in
  // PlanQualitySpec). The semantics are the standard LSH contract —
  // same-band-bucket pairs — which the oracle mirrors exactly, so the
  // hash gate proves bucket assignment, the dot-product fold, and the
  // threshold on real rows (non-vacuous at every scale — see counts in
  // COVERAGE.md round 10). The exact all-pairs variant stays available
  // as the opt-in `exact = true` verification baseline on the public
  // API.
  //
  // Band currency (round 10, measured in EPS_GRAPH_SCALE_r10.json):
  // 4 bands × 8 bits = 256 buckets/band saturates as the corpus grows —
  // candidate pairs/vector DOUBLED with each corpus doubling
  // (205→413→823 at 10k/20k/40k synthetic vectors), the same quadratic
  // collision-mass failure the r9 simhash chunk widening fixed. 8 bands
  // × 12 bits (4096 buckets/band) holds the same ~74% per-pair recall
  // at cos 0.9 (1−(1−p^12)^8 vs 1−(1−p^8)^4, p = 1−θ/π) with 8× less
  // random-collision mass (8/4096 vs 4/256 of all pairs), and the
  // finer buckets also shrink the per-bucket skew a hot band key feeds
  // into the join.
  private val NearDupMin = 0.4
  private[graft] val NdBands = 8
  private[graft] val NdRowBits = 12

  private def nearDupSpark(s: SparkSession, d: String): DataFrame =
    embeddingNearDups(Catalog.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding")), adaptive = true,
      knownN = Some(corpusN(s, d)))

  /** Public API: near-duplicate `(vec_a, vec_b, cosine)` pairs over an
    * `(vec_id, embedding)` frame. Default is the banded sign-LSH
    * candidate path (scale-safe: candidates join keyed on band buckets,
    * exact cosine only on candidates — pairs whose buckets never
    * collide are not reported, the usual LSH recall trade). Pass
    * `exact = true` for the brute-force all-pairs baseline — a
    * verification tool; its broadcast of the full table is a
    * scale-killer by design, never the default. `adaptive = true`
    * replaces the fixed family with the N-adaptive prefix ladder
    * ([[adaptiveCandidatePairs]]) — the scale-safe default for
    * full-corpus consumers (d06, s11), where a fixed key space would
    * go quadratic once the corpus outgrows it.
    */
  def embeddingNearDups(vecs: DataFrame, minCosine: Double = NearDupMin,
      exact: Boolean = false, bands: Int = NdBands,
      rowBits: Int = NdRowBits, adaptive: Boolean = false,
      knownN: Option[Long] = None): DataFrame = {
    // adaptive selects the ladder's family — an explicit fixed family
    // alongside it would be silently ignored (review: a caller asking
    // for an "adaptive 16x4" would get the cos-0.9 ladder and ~0.03
    // recall at low eps with no warning)
    require(!adaptive || (bands == NdBands && rowBits == NdRowBits),
      "adaptive = true chooses the family from the corpus size; do not " +
        "also pass explicit bands/rowBits")
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val e = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr(s"${sparkNorm("embedding")}"))
    if (exact) {
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.join(broadcast(b), col("vec_a") < col("vec_b"))
        .withColumn("cosine", expr(s"${sparkDot("ea", "eb")} / (na * nb)"))
        .filter(col("cosine") >= minCosine)
        .select("vec_a", "vec_b", "cosine")
    } else {
      val cand =
        if (adaptive)
          knownN.map(adaptiveCandidatePairs(e, _))
            .getOrElse(adaptiveCandidatePairs(e))
        else lshCandidatePairs(e, bands, rowBits)
      cosineOnCandidates(e, cand, minCosine)
    }
  }

  /** Exact cosine over a candidate-pair relation: vectors fetched back
    * by id (never carried through the candidate join), filtered to
    * `minCosine`. Shared by [[embeddingNearDups]] and d29's report so
    * the candidate→verify join has ONE definition. `e` must carry
    * (vec_id, embedding, nrm).
    *
    * Both fetch-back joins carry a SHUFFLE_HASH hint on the embedding
    * side (round-15 find, root-caused at the 2.56M ladder tier): after
    * the first join attaches `ea`, the pair relation is FAT (~300 B of
    * float payload per row), and the default sort-merge join for the
    * second fetch would shuffle AND SORT that fat intermediate by
    * vec_b — ~80 GB of sort spill at 2.56M vectors (measured: two
    * disk-exhaustion aborts at a 78 GB free ceiling). Hash-building
    * the embedding side instead streams the fat side with no sort:
    * the build side is the (vec_id → embedding) dimension table, whose
    * per-partition slice (|corpus| · ~300 B / shuffle partitions) is
    * exactly the thing that stays small when partitions scale with the
    * cluster — the sound build choice at any corpus size. */
  private[llm] def cosineOnCandidates(e: DataFrame, cand: DataFrame,
      minCosine: Double): DataFrame = {
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    cand.join(ea.hint("SHUFFLE_HASH"), "vec_a")
      .join(eb.hint("SHUFFLE_HASH"), "vec_b")
      .withColumn("cosine", expr(s"${sparkDot("ea", "eb")} / (na * nb)"))
      .filter(col("cosine") >= minCosine)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Banded sign-LSH candidate pairs `(vec_a < vec_b)` over a
    * `(vec_id, embedding)` frame — the pair currency every LSH-contract
    * operator (d06 near-dups, c11's DBSCAN epsilon graph) verifies
    * exact cosine on. Narrow band-key rows `(vec_id, band, bk)` only:
    * vectors are NOT carried through the candidate join, they are
    * fetched back by id after the distinct (d02's candidate shape), so
    * the shuffle is keyed on (band, bucket) and never all-pairs.
    *
    * `bands`×`rowBits` selects the AND-OR family (default = d06's 8×12,
    * tuned for cos ≥ 0.9). Per-pair recall is 1−(1−p^rowBits)^bands
    * with p = 1−θ/π: low-threshold callers (c11's eps graph) pass a
    * fewer-bits/more-bands family because p^12 is negligible below
    * cos ≈ 0.7. Planes are indexed band-major into the shared
    * deterministic family, so each (bands, rowBits) choice is a fixed,
    * oracle-mirrorable plane assignment. `stride` is the band-major
    * plane stride (default = rowBits, the historical contiguous
    * layout): the adaptive path passes `stride = AdMaxBits` so every
    * ladder tier is a PREFIX of the one maximal plane family — band b
    * always reads planes `b*stride .. b*stride+rowBits-1`, and a
    * rowBits-bit key equals the maximal key masked to its low bits.
    */
  def lshCandidatePairs(vecs: DataFrame, bands: Int = NdBands,
      rowBits: Int = NdRowBits, stride: Int = -1): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val bandStructs = bandKeyStructs(bands, rowBits, stride)
    val keyed = vecs.select(col("vec_id"),
      explode(expr(s"array($bandStructs)")).as("bb"))
      .select(col("vec_id"), col("bb.band"), col("bb.bk"))
    keyed.select(col("vec_id").as("vec_a"), col("band"), col("bk"))
      .join(keyed.select(col("vec_id").as("vec_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  /** The Spark-side band-key expression (an `array(struct(band, bk))`
    * literal-plane fold) shared by [[lshCandidatePairs]] and st28's
    * streaming occupancy monitor — one definition of "which bucket does
    * this vector land in" per (bands, rowBits, stride) family. */
  private[graft] def bandKeyStructs(bands: Int, rowBits: Int,
      stride: Int = -1): String = {
    val st = if (stride < 0) rowBits else stride
    require(rowBits <= st, s"rowBits $rowBits exceeds plane stride $st")
    val pl = planesN(bands * st)
    (0 until bands).map { b =>
      val bits = (0 until rowBits).map { j =>
        val p = pl(b * st + j)
          .mkString("cast(array(", ", ", ") as array<double>)")
        s"CASE WHEN ${sparkDot("embedding", p)} > 0 THEN ${1 << j} ELSE 0 END"
      }.mkString(" + ")
      s"struct($b as band, cast($bits as int) as bk)"
    }.mkString(", ")
  }

  /** DuckDB band-key selects over a CTE `n(vec_id, va)`: one row per
    * (vec_id, band) carrying the NdRowBits-bit sign bucket under the
    * SAME deterministic hyperplane family the Spark side uses — shared
    * by the d06 and c11 oracles so every LSH-contract query mirrors one
    * plane family, not a per-query copy that could drift. Parameterized
    * the same way as [[lshCandidatePairs]] (band-major plane indexing),
    * so a caller-chosen family mirrors exactly.
    */
  private[llm] def duckBandKeys: String = duckBandKeys(NdBands, NdRowBits)

  private[graft] def duckBandKeys(bands: Int, rowBits: Int,
      stride: Int = -1, key: String = "bk"): String = {
    val st = if (stride < 0) rowBits else stride
    val pl = planesN(bands * st)
    (0 until bands).map { b =>
      val bits = (0 until rowBits).map { j =>
        val p = pl(b * st + j).mkString("[", ", ", "]")
        s"CASE WHEN ${duckDot("va", p)} > 0 THEN ${1 << j} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, cast($bits as int) AS $key FROM n"
    }.mkString("\n  UNION ALL ")
  }

  // --------------------------------------- adaptive sign-LSH family
  //
  // Round 12: the fixed 8×12 family has 4096 buckets per band, so once
  // the corpus outgrows the key space, background candidate mass is
  // O(N²/keyspace) — the r11 smoke measured pairs-per-vector DOUBLING
  // every time N doubled. The scale-safe shape is signature width that
  // grows with the corpus: rowBits ≈ log₂(N / target-occupancy), with
  // bands rising alongside to hold the stated recall. Implementation
  // keeps ONE maximal deterministic plane family (AdMaxBands ×
  // AdMaxBits, band-major at stride AdMaxBits) and selects every tier
  // as a PREFIX of it: band b of a (bands, rowBits) tier reads planes
  // b*AdMaxBits .. b*AdMaxBits+rowBits−1, so a tier key is exactly the
  // maximal key masked to its low rowBits bits. That prefix property is
  // what lets the DuckDB oracle mirror an N-dependent family with
  // static SQL: it computes the full-width keys once, then masks with
  // `bkf % (1 << row_bits)` and keeps `band < n_bands`, where both
  // knobs come from the SAME integer CASE ladder over `count(*)` the
  // Scala side applies — integer thresholds, no float-boundary hazard.
  //
  // The ladder holds per-pair recall at the d06 working point
  // (cos 0.9, p = 1−θ/π ≈ 0.8564) near the historical 8×12 figure
  // (≈ 0.74): bands(rowBits) = ceil(ln(1−0.74)/ln(1−p^rowBits)).
  // Background collision mass per vector ≈ bands·N/2^rowBits, so with
  // rowBits ≈ log₂N−2 it stays ≈ 4·bands — flat in N up to the ladder
  // cap (bands grows ~linearly in rowBits, i.e. logarithmically in N).
  // Round 13 raised the cap 16×16 → 22×18 (three new tiers, same
  // bands(rowBits) formula: 16→16, 17→19, 18→22), extending flat
  // candidate mass to ~10⁶ vectors per corpus — and measured the
  // ladder AT the sizes past the old cap (EPS_GRAPH_SCALE_r13.json:
  // 160k/320k/640k rows). Round 14 repeated the move one octave up
  // (25×19: ceil(ln 0.26 / ln(1−0.8564¹⁹)) = 25 bands), so the first
  // doubling past r13's measured 640k row (1.28M vectors) lands ON a
  // ladder tier, not in fixed-family saturation — measured in
  // EPS_GRAPH_SCALE_r14.json alongside sampled-groundtruth recall at
  // the large-N tiers. At 100 TB (10⁹⁺ vectors) the same formula
  // extends by raising AdMaxBits/AdMaxBands again — the ladder is
  // data, not structure, and two consecutive raises are the existence
  // proof: no consumer or oracle changed, only these constants.

  /** (maxN, rowBits, bands) tiers; N above the last tier takes the
    * (AdMaxBits, AdMaxBands) cap. Thresholds are exact integers shared
    * verbatim with the oracle's CASE ladder. */
  private[graft] val AdLadder: Seq[(Long, Int, Int)] = Seq(
    (1024L, 8, 4), (2048L, 9, 5), (4096L, 10, 6), (8192L, 11, 7),
    (16384L, 12, 8), (32768L, 13, 10), (65536L, 14, 12),
    (131072L, 15, 14), (262144L, 16, 16), (524288L, 17, 19),
    (1048576L, 18, 22), (2097152L, 19, 25))
  private[graft] val AdMaxBits = 19
  private[graft] val AdMaxBands = 25

  /** The (bands, rowBits) tier for a corpus of `n` vectors. */
  private[graft] def adaptiveFamily(n: Long): (Int, Int) =
    AdLadder.find(n <= _._1).map { case (_, rb, b) => (b, rb) }
      .getOrElse((AdMaxBands, AdMaxBits))

  /** Banded sign-LSH candidate pairs under the N-adaptive prefix
    * family. The corpus is counted once at plan-construction time (one
    * narrow count — deliberately a driver-side decision, NOT a
    * broadcast join, so the candidate plan keeps the exact keyed shape
    * PlanQualitySpec pins: no mandatory BroadcastExchange anywhere);
    * the tier is then inlined as literals exactly like the fixed
    * families. Deterministic: same frame → same count → same planes.
    * The tier decision SNAPSHOTS the corpus size at plan time: a table
    * mutated between planning and execution keeps the planned family
    * (callers that need the count anyway pass it via the two-arg
    * overload — the gate paths share one memoized count per
    * (session, dir), so d06/s11/d29 scan the corpus for its size once,
    * not once each).
    */
  def adaptiveCandidatePairs(vecs: DataFrame): DataFrame =
    adaptiveCandidatePairs(vecs, vecs.count())

  /** As above with the corpus size supplied by the caller (one count
    * shared across consumers instead of one per plan construction). */
  def adaptiveCandidatePairs(vecs: DataFrame, n: Long): DataFrame = {
    val (bands, rowBits) = adaptiveFamily(n)
    lshCandidatePairs(vecs, bands, rowBits, AdMaxBits)
  }

  /** Memoized `count(embeddings)` per (session, dir) — the adaptive
    * family's tier decision for every gate consumer (d06, s11, d29, d30)
    * reads this one snapshot instead of re-scanning the table per query.
    * The table is immutable for the life of a gate/bench session, which
    * is exactly the snapshot semantics the ladder documents. */
  private val corpusNMemo = new SessionMemo[Long]
  private def corpusN(s: SparkSession, d: String): Long =
    corpusNMemo(s, d)(Catalog.t(s, d, "embeddings").count())

  /** Test twin of the oracle's masked-full-width computation: band
    * keys under the MAXIMAL family, masked to the tier with pmod —
    * the round-12 spec compares its candidate set against
    * [[adaptiveCandidatePairs]]' prefix-family set to pin the prefix
    * identity the static oracle SQL relies on. Never a gate path. */
  private[graft] def lshCandidatePairsMaskedForTest(vecs: DataFrame,
      bands: Int, rowBits: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val bandStructs = bandKeyStructs(AdMaxBands, AdMaxBits, AdMaxBits)
    val keyed = vecs.select(col("vec_id"),
        explode(expr(s"array($bandStructs)")).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"),
        pmod(col("bb.bk"), lit(1 << rowBits)).as("bk"))
      .filter(col("band") < bands)
    keyed.select(col("vec_id").as("vec_a"), col("band"), col("bk"))
      .join(keyed.select(col("vec_id").as("vec_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  /** d29: the adaptive-family observability row — which ladder tier a
    * corpus lands on and what that family costs/buys, as ONE gated
    * row: corpus size, the tier's (row_bits, n_bands), the candidate-
    * pair count it admits, and how many candidates survive exact
    * cosine ≥ 0.9 (the family's stated working point). The ops
    * dashboard for the round-12 machinery — and the query that pins
    * the LADDER ITSELF cross-engine: the Scala integer ladder (driver
    * count → family literals) must agree with the oracle's CASE ladder
    * over `count(*)` or the row hash-fails. Scale: two counts plus the
    * d06 candidate currency; nothing new crosses a shuffle.
    */
  private def familyReportSpark(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Catalog.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // the tier comes from the memoized snapshot count (shared with
    // d06/s11); n_vecs below stays a REAL aggregate, so a memo that
    // desynced from the table would hash-fail here — d29 gates the
    // memo as well as the ladder
    val (bands, rowBits) = adaptiveFamily(corpusN(s, d))
    // materialized ONCE (round 16): the candidate relation is consumed
    // twice below (its own count + the verify join) and the banded
    // self-join + distinct behind it is the report's dominant cost —
    // without the eager checkpoint it executed once per consumer
    val cand = lshCandidatePairs(e, bands, rowBits, AdMaxBits)
      .localCheckpoint(true)
    val dups = cosineOnCandidates(
      e.withColumn("nrm", expr(s"${sparkNorm("embedding")}")), cand, 0.9)
    e.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(dups.agg(count(lit(1)).as("n_neardups_090")))
      .select(col("n_vecs").cast("long").as("n_vecs"),
        lit(rowBits.toLong).as("row_bits"),
        lit(bands.toLong).as("n_bands"),
        col("n_candidates").cast("long").as("n_candidates"),
        col("n_neardups_090").cast("long").as("n_neardups_090"))
  }

  private def familyReportOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |n AS (SELECT vec_id, va, ${duckNorm("va")} AS nn FROM v),
       |$duckAdaptiveCtes,
       |$duckCandCte,
       |cc AS (SELECT count(*) AS n_candidates FROM cand),
       |nd AS (SELECT count(*) AS n_neardups_090 FROM cand
       |  JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b
       |  WHERE ${duckDot("a.va", "b.va")} / (a.nn * b.nn) >= 0.9),
       |cnt AS (SELECT count(*) AS c FROM n)
       |SELECT cast(c as bigint) AS n_vecs,
       |  cast(row_bits as bigint) AS row_bits,
       |  cast(n_bands as bigint) AS n_bands,
       |  cast(n_candidates as bigint) AS n_candidates,
       |  cast(n_neardups_090 as bigint) AS n_neardups_090
       |FROM cnt, fam, cc, nd""".stripMargin

  private def ladderCase(pick: ((Long, Int, Int)) => Int,
      dflt: Int): String =
    AdLadder.map { case t @ (mx, _, _) =>
      s"WHEN c <= $mx THEN ${pick(t)}"
    }.mkString("CASE ", " ", s" ELSE $dflt END")

  /** DuckDB mirror of [[adaptiveCandidatePairs]]' band keys, as CTE
    * definitions to splice after a CTE `n(vec_id, va)`: `k0` carries
    * the full-width (AdMaxBands × AdMaxBits) keys, `fam` resolves the
    * integer CASE ladder over `count(*)`, and `k(vec_id, band, bk)` is
    * the masked prefix tier — identical to the Spark side's inlined
    * family by the prefix property. */
  private[llm] def duckAdaptiveCtes: String = {
    val rbCase = ladderCase(_._2, AdMaxBits)
    val nbCase = ladderCase(_._3, AdMaxBands)
    s"""k0 AS (${duckBandKeys(AdMaxBands, AdMaxBits, AdMaxBits, "bkf")}),
       |fam AS (SELECT $rbCase AS row_bits, $nbCase AS n_bands
       |  FROM (SELECT count(*) AS c FROM n)),
       |k AS (SELECT vec_id, band, cast(bkf % (1 << row_bits) as int) AS bk
       |  FROM k0, fam WHERE band < n_bands)""".stripMargin
  }

  /** The adaptive candidate-pair CTE (`cand` over the band-key relation
    * `k`) shared by every oracle that consumes it (d06, d29, s11, d30)
    * — one definition of "candidate pair", so the consumers cannot
    * drift (the edgeCtes() discipline from the graph family). */
  private[llm] def duckCandCte: String =
    """cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM k a JOIN k b USING (band, bk) WHERE a.vec_id < b.vec_id)""".stripMargin

  private def nearDupOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |n AS (SELECT vec_id, va, ${duckNorm("va")} AS nn FROM v),
       |$duckAdaptiveCtes,
       |$duckCandCte
       |SELECT vec_a, vec_b,
       |  ${duckDot("a.va", "b.va")} / (a.nn * b.nn) AS cosine
       |FROM cand JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b
       |WHERE ${duckDot("a.va", "b.va")} / (a.nn * b.nn) >= $NearDupMin""".stripMargin

  // --------------------------------- cross-label near-dup audit (d30)
  //
  // Label-leakage audit over the embedding space: d06's near-dup pairs
  // whose endpoints carry DIFFERENT labels, aggregated per unordered
  // label pair. Near-identical vectors filed under different classes
  // are exactly what poisons a classifier eval (the embedding-space
  // complement of p27's split-leakage concern) — this is the review
  // surface that finds them. Scale: one more consumer of the adaptive
  // candidate machinery (memoized corpus count, no extra scan for the
  // tier), plus two narrow label joins and a keyed agg; max() is
  // order-free exact, counts are integers.

  private def crossLabelSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    val pairs = embeddingNearDups(
      e.select(col("vec_id"), col("embedding")),
      adaptive = true, knownN = Some(corpusN(s, d)))
    val la = e.select(col("vec_id").as("vec_a"), col("label").as("label_a"))
    val lb = e.select(col("vec_id").as("vec_b"), col("label").as("label_b"))
    pairs.join(la, "vec_a").join(lb, "vec_b")
      .filter(col("label_a") =!= col("label_b"))
      .groupBy(least(col("label_a"), col("label_b")).as("label_lo"),
        greatest(col("label_a"), col("label_b")).as("label_hi"))
      .agg(count(lit(1)).as("n_pairs"), max(col("cosine")).as("max_cosine"))
      .select(col("label_lo").cast("long").as("label_lo"),
        col("label_hi").cast("long").as("label_hi"),
        col("n_pairs").cast("long").as("n_pairs"), col("max_cosine"))
  }

  private def crossLabelOracle: String =
    s"""WITH v AS (SELECT vec_id, label,
       |    cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |n AS (SELECT vec_id, va, ${duckNorm("va")} AS nn FROM v),
       |$duckAdaptiveCtes,
       |$duckCandCte,
       |p AS (SELECT vec_a, vec_b,
       |    ${duckDot("a.va", "b.va")} / (a.nn * b.nn) AS cosine
       |  FROM cand JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b
       |  WHERE ${duckDot("a.va", "b.va")} / (a.nn * b.nn) >= $NearDupMin),
       |l AS (SELECT p.cosine, va.label AS label_a, vb.label AS label_b
       |  FROM p JOIN v va ON va.vec_id = p.vec_a
       |    JOIN v vb ON vb.vec_id = p.vec_b
       |  WHERE va.label <> vb.label)
       |SELECT cast(least(label_a, label_b) as bigint) AS label_lo,
       |  cast(greatest(label_a, label_b) as bigint) AS label_hi,
       |  cast(count(*) as bigint) AS n_pairs,
       |  max(cosine) AS max_cosine
       |FROM l GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- brute-force top-k

  private def cosineSpark(s: SparkSession, d: String): DataFrame =
    cosineTopKSpark(s, d, TopK)

  private def cosineTopKSpark(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    cosineTopK(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")), k)
  }

  /** Public API: exact brute-force cosine top-k. `queries` is the small
    * broadcast side `(query_id, embedding)`; `candidates`
    * `(neighbor_id, embedding)` streams — embarrassingly parallel over
    * candidate splits. Dot products run as the codegen'd sequential-fold
    * kernel, so scores are bit-deterministic.
    *
    * `excludeSelf` (default true) drops candidates whose id equals the
    * query id — correct when queries are drawn from the candidate set
    * (one id space). Pass false when the two inputs have independent id
    * sequences, or id collisions would silently drop real neighbors.
    */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("query_id"), col("embedding").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
    val c = candidates.select(col("neighbor_id"), col("embedding").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val joined =
      if (excludeSelf) broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      else broadcast(q).crossJoin(c)
    joined
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  // -------------------------------------------- binary-sign ANN (s15)

  /** Shortlist width for the hamming pass (then exact-cosine rerank). */
  private val BinShortlist = 20

  private def binaryAnnSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    binaryAnn(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      TopK, BinShortlist)
  }

  /** Public API: binary (sign-bit) quantized ANN. Every vector packs to
    * ONE int64 code (bit i = dim-i sign), the shortlist pass ranks
    * candidates by `bit_count(xor)` hamming distance — an 8-byte compare
    * against a 256-byte float read, so the scan side shrinks 32× and the
    * distance kernel is one xor+popcount — then the top `shortlist` per
    * query rerank by exact cosine. The coarsest, cheapest member of the
    * quantization family (vs s05 int8 / s06 PQ): the one a 100 TB
    * first-pass retrieval runs entirely from memory.
    *
    * Ties break on neighbor_id at both stages, so results are exact and
    * engine-independent; the zero-vector norm guard carries through the
    * rerank like every cosine path here.
    */
  def binaryAnn(queries: DataFrame, candidates: DataFrame, k: Int,
      shortlist: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    // bits pack from the first min(dim, 64) components (one int64 code;
    // wider embeddings would pack to ceil(dim/64) words — the gate data
    // is exactly 64-dim)
    // (the empty-array guard matters: sequence(0, -1) DESCENDS in Spark)
    def code(c: String): String =
      s"IF(size($c) = 0, cast(0 as bigint), " +
        s"aggregate(sequence(0, least(size($c), 64) - 1), cast(0 as bigint), " +
        s"(acc, i) -> acc | IF(element_at($c, i + 1) > 0, " +
        s"shiftleft(cast(1 as bigint), i), cast(0 as bigint))))"
    val q = queries.select(col("query_id"), col("embedding").as("qa"))
      .withColumn("qcode", expr(code("qa")))
      .withColumn("qn", expr(sparkNorm("qa")))
    val c = candidates.select(col("neighbor_id"), col("embedding").as("ca"))
      .withColumn("ccode", expr(code("ca")))
      .withColumn("cn", expr(sparkNorm("ca")))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", expr("bit_count(qcode ^ ccode)"))
      .withColumn("rh", row_number().over(wH))
      .filter(col("rh") <= shortlist)
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(wC))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cosine"), col("rn"))
  }

  /** Oracle: hamming as the COUNT OF SIGN DISAGREEMENTS — mathematically
    * identical to popcount(xor(packed codes)) without leaning on the
    * dialect's int64 shift-overflow behavior at bit 63.
    */
  private def binaryAnnOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id,
       |    cast(embedding AS DOUBLE[]) AS qa FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |qn AS (SELECT query_id, qa, ${duckNorm("qa")} AS qn FROM q),
       |c AS (SELECT vec_id AS neighbor_id,
       |    cast(embedding AS DOUBLE[]) AS ca FROM embeddings),
       |cn AS (SELECT neighbor_id, ca, ${duckNorm("ca")} AS cn FROM c),
       |h AS (SELECT query_id, neighbor_id, qa, ca, qn, cn,
       |    cast(len(list_filter(range(1, 65),
       |      i -> (qa[i] > 0) <> (ca[i] > 0))) as int) AS hamming
       |  FROM qn, cn WHERE query_id <> neighbor_id),
       |sh AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY hamming ASC, neighbor_id ASC) AS rh FROM h),
       |re AS (SELECT query_id, neighbor_id, hamming,
       |    ${duckDot("qa", "ca")} / (qn * cn) AS cosine
       |  FROM sh WHERE rh <= $BinShortlist),
       |r AS (SELECT query_id, neighbor_id, hamming, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM re)
       |SELECT query_id, neighbor_id, hamming, cosine, rn
       |FROM r WHERE rn <= $TopK""".stripMargin

  private def cosineOracle: String = cosineTopKOracle(TopK)

  private def cosineTopKOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id,
       |    cast(embedding AS DOUBLE[]) AS qa FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |qn AS (SELECT query_id, qa, ${duckNorm("qa")} AS qn FROM q),
       |c AS (SELECT vec_id AS neighbor_id,
       |    cast(embedding AS DOUBLE[]) AS ca FROM embeddings),
       |cn AS (SELECT neighbor_id, ca, ${duckNorm("ca")} AS cn FROM c),
       |p AS (SELECT query_id, neighbor_id,
       |    ${duckDot("qa", "ca")} / (qn * cn) AS cosine
       |  FROM qn, cn WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM p)
       |SELECT query_id, neighbor_id, cosine, rn FROM r WHERE rn <= $k""".stripMargin

  // ------------------------------------------------------------- IVF ANN

  // IVF: vectors partition into Voronoi cells around deterministic
  // centroids (every 100th vector); queries probe the NProbe nearest
  // cells only. At scale the cell assignment is one narrow map over a
  // broadcast centroid set and candidate search shuffles on cell id —
  // never all-pairs. Fully oracle-checked (exact fold arithmetic).
  private[llm] val CentroidEvery = 100
  private val NProbe = 2
  private val IvfTopK = 3

  private def ivfSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    ivfAnn(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      NProbe, IvfTopK)
  }

  /** Public API: IVF approximate nearest neighbors. Vectors partition
    * into Voronoi cells around the broadcast `centroids` `(cid,
    * embedding)`; queries probe the `nProbe` nearest cells only, so
    * candidate search shuffles on cell id — never all-pairs. Cell
    * assignment and ties are deterministic (cosine desc, cid asc).
    * Same `(query_id | neighbor_id, embedding)` and `excludeSelf`
    * contract as [[cosineTopK]].
    */
  def ivfAnn(
      queries: DataFrame,
      candidates: DataFrame,
      centroids: DataFrame,
      nProbe: Int,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = candidates.select(col("neighbor_id"), col("embedding").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    // Cell assignment: nearest centroid by cosine (tie -> lowest cid),
    // as a SHUFFLE-FREE narrow map: the centroid set is collected once
    // (small by contract — it was broadcast before) and inlined as an
    // array literal, so the argmax runs as a higher-order fold inside
    // the candidate scan stage. The previous shape (crossJoin +
    // row_number window) exchanged the exploded N x C rows. Driver-side
    // norms use the identical sequential left fold, so every double is
    // bit-equal to the oracle's. Above MaxInlineCentroids the argmax
    // falls back to a min_by aggregation (one pre-window-width shuffle).
    val assigned = assignCells(c, cent)
    // queries probe the nProbe nearest cells
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = queries.select(col("query_id"), col("embedding").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", expr(s"${sparkDot("qa", "cemb")} / (qn * cnrm)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("qa"), col("qn"), col("cid"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(assigned, "cid")
      .filter(!lit(excludeSelf) || col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  /** Largest centroid set inlined as an expression literal; beyond it
    * the assignment uses `min_by` over a broadcast join instead (still
    * far narrower than the old N x C window exchange).
    */
  private[llm] val MaxInlineCentroids = 1024

  /** Exact-roundtrip double literal: `Double.toString` <->
    * `cast(string as double)` is bit-exact, so inlining loses nothing.
    */
  private[llm] def dlit(d: Double): String = s"cast('${d.toString}' as double)"

  /** Assign each candidate `(neighbor_id, ca, cn)` to its nearest
    * centroid (cosine desc, cid asc ties). Shuffle-free inline fold for
    * small centroid sets; `min_by`-style aggregation fallback above
    * [[MaxInlineCentroids]].
    */
  private[llm] def assignCells(c: DataFrame, cent: DataFrame): DataFrame = {
    // count BEFORE collecting: a large centroid set must never land on
    // the driver just to discover it takes the fallback path
    val nCent = cent.count()
    // loud contract: zero centroids would inline an untyped empty array
    // literal and die with an inscrutable analysis error deep in the
    // fold — fail at the API boundary instead (empty MODEL is a caller
    // bug; empty DATA through a non-empty model is fine and tested)
    require(nCent > 0,
      "cell assignment needs a non-empty centroid set (got 0 centroids)")
    if (nCent <= MaxInlineCentroids) {
      val centRows = cent.select(col("cid").cast("long"),
        col("cemb").cast("array<double>"), col("cnrm")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
      val centArr = centRows.map { case (cid, emb, nrm) =>
        s"named_struct('cid', cast($cid as bigint), " +
          s"'cemb', array(${emb.map(dlit).mkString(",")}), 'cnrm', ${dlit(nrm)})"
      }.mkString("array(", ", ", ")")
      // fold in cid order, replace on strictly-greater cosine: ties
      // keep the lowest cid — same pick as row_number(ccos desc, cid asc)
      c.withColumn("best", expr(
        s"""aggregate(
           |  transform($centArr, cc -> named_struct('cid', cc.cid,
           |    'ccos', ${sparkDot("ca", "cc.cemb")} / (cn * cc.cnrm))),
           |  named_struct('cid', cast(-1 as bigint), 'ccos', cast('-2.0' as double)),
           |  (acc, x) -> IF(x.ccos > acc.ccos, x, acc))""".stripMargin))
        .select(col("neighbor_id"), col("ca"), col("cn"),
          col("best.cid").as("cid"))
    } else {
      // same pick via aggregation: max struct of (ccos, -cid) — one
      // shuffle at pre-window width, no row_number materialization
      c.crossJoin(broadcast(cent))
        .withColumn("ccos", expr(s"${sparkDot("ca", "cemb")} / (cn * cnrm)"))
        .groupBy(col("neighbor_id"))
        .agg(
          first(col("ca")).as("ca"), first(col("cn")).as("cn"),
          (-max(struct(col("ccos"), (-col("cid")).as("negCid")))
            .getField("negCid")).as("cid"))
    }
  }

  private def ivfOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id AS neighbor_id, va AS na, vn AS nn, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |probes AS (SELECT query_id, qa, qn, cid FROM (
       |  SELECT v.vec_id AS query_id, va AS qa, vn AS qn, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS prn
       |  FROM v, c WHERE v.vec_id < $NumQueries) x WHERE prn <= $NProbe),
       |cand AS (SELECT query_id, neighbor_id,
       |    ${duckDot("qa", "na")} / (qn * nn) AS cosine
       |  FROM probes JOIN asg USING (cid)
       |  WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM cand)
       |SELECT query_id, neighbor_id, cosine, rn FROM r WHERE rn <= $IvfTopK""".stripMargin

  // --------------------------------------------- IVF range search (s13)

  /** Range-search threshold: everything at least this cosine-close to a
    * query is a neighbor — no k cap. */
  private val RangeMinCos = 0.3

  private def rangeSearchSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    ivfRangeSearch(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      NProbe, RangeMinCos)
  }

  /** Public API: IVF RANGE search — every candidate within `minCos`
    * cosine of each query, found through the same nProbe-cell route as
    * [[ivfAnn]] but with NO top-k window anywhere: probes join the
    * cell-bucketed candidates (one shuffle on cell id) and a plain
    * filter keeps the in-range rows. At 100 TB this is the cheapest
    * neighbor operator in the family — no per-query sort state, output
    * streams straight out of the join, and the unbounded result size is
    * the CALLER's semantic choice (a threshold query means "give me
    * them all"), not an operator obligation.
    */
  def ivfRangeSearch(
      queries: DataFrame,
      candidates: DataFrame,
      centroids: DataFrame,
      nProbe: Int,
      minCos: Double,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = candidates.select(col("neighbor_id"), col("embedding").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val assigned = assignCells(c, cent)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = queries.select(col("query_id"), col("embedding").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", expr(s"${sparkDot("qa", "cemb")} / (qn * cnrm)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("qa"), col("qn"), col("cid"))
    probes.join(assigned, "cid")
      .filter(!lit(excludeSelf) || col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .filter(expr(s"cosine >= ${dlit(minCos)}"))
      .select("query_id", "neighbor_id", "cosine")
  }

  private def rangeSearchOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id AS neighbor_id, va AS na, vn AS nn, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |probes AS (SELECT query_id, qa, qn, cid FROM (
       |  SELECT v.vec_id AS query_id, va AS qa, vn AS qn, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS prn
       |  FROM v, c WHERE v.vec_id < $NumQueries) x WHERE prn <= $NProbe)
       |SELECT query_id, neighbor_id,
       |  ${duckDot("qa", "na")} / (qn * nn) AS cosine
       |FROM probes JOIN asg USING (cid)
       |WHERE query_id <> neighbor_id
       |  AND ${duckDot("qa", "na")} / (qn * nn) >= ${dlit(RangeMinCos)}""".stripMargin

  // ------------------------------------------------ IVF index stats (s14)

  /** Index-health report for the IVF layout every ANN query in the
    * family routes through: per-cell occupancy, each cell's corpus
    * share, and the global imbalance factor (max cell / ideal cell,
    * fixed-point) — the number an operator watches to decide when to
    * retrain centroids (a skewed cell turns nProbe routing into a scan
    * of half the corpus). Assignment is the shared shuffle-free fold;
    * the stats are ONE keyed count plus broadcast-sized totals — the
    * report costs one pass regardless of corpus size.
    */
  private def ivfStatsSpark(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Catalog.t(s, d, "embeddings")
    val cent = e.filter(col("vec_id") % CentroidEvery === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val occ = assignCells(c, cent)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
    val tot = occ.agg(sum(col("n_vecs")).as("total"),
      max(col("n_vecs")).as("max_n"), count(lit(1)).as("n_cells"))
    occ.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("cast(n_vecs * 1000000 div total as bigint)").as("share_fx"),
        expr("cast(max_n * n_cells * 1000000 div total as bigint)")
          .as("imbalance_fx"))
  }

  private def ivfStatsOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT v.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |occ AS (SELECT cid, count(*) AS n_vecs FROM asg GROUP BY cid),
       |tot AS (SELECT cast(sum(n_vecs) as bigint) AS total,
       |    cast(max(n_vecs) as bigint) AS max_n,
       |    cast(count(*) as bigint) AS n_cells FROM occ)
       |SELECT cid, cast(n_vecs as bigint) AS n_vecs,
       |  cast(n_vecs * 1000000 // total as bigint) AS share_fx,
       |  cast(max_n * n_cells * 1000000 // total as bigint) AS imbalance_fx
       |FROM occ, tot""".stripMargin

  // ------------------------------------- streaming semantic ingest dedup

  /** d06's near-dup threshold, reused for the ingest gate. */
  private[llm] val SemIngestMinCos = 0.4

  /** Streaming SEMANTIC near-dup at ingest — the embedding complement
    * of the MinHash gate (Dedup.streamingMinhashDedup): arriving
    * vectors assign to their nearest IVF cell with the same
    * shuffle-free inline-centroid fold the batch path uses (the
    * centroid set is static and collected ONCE; the stream side only
    * gains narrow columns), then a stream-static equi-join on cell id
    * flags cross-split pairs with cosine >= `minCos`. The cell-bucketed
    * corpus is the only persisted artifact and is pinned eagerly so
    * micro-batches never recompute it — candidate search shuffles on
    * cell id, never all-pairs, exactly how a 100 TB lake
    * semantically gates its ingest.
    */
  def streamingSemanticDedup(corpus: DataFrame, arriving: DataFrame,
      centroids: DataFrame, minCos: Double = SemIngestMinCos): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val corpusCells = assignCells(
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ca"))
        .withColumn("cn", expr(s"${sparkNorm("ca")}")), cent)
      .select(col("cid"), col("neighbor_id").as("corpus_id"), col("ca"), col("cn"))
      .localCheckpoint(true)
    val arrivingCells = assignCells(
      arriving.select(col("vec_id").as("neighbor_id"), col("embedding").as("ca"))
        .withColumn("cn", expr(s"${sparkNorm("ca")}")), cent)
      .select(col("cid"), col("neighbor_id").as("batch_id"),
        col("ca").as("ba"), col("cn").as("bn"))
    arrivingCells.join(corpusCells, "cid")
      .withColumn("cosine", expr(s"${sparkDot("ba", "ca")} / (bn * cn)"))
      .filter(col("cosine") >= minCos)
      .select("corpus_id", "batch_id", "cosine")
  }

  /** Gate wiring: corpus = vec_id % 5 != 0 of the static table,
    * arrivals = vec_id % 5 == 0 of the stream, centroids every
    * [[CentroidEvery]]-th vector (s03's deterministic set).
    */
  def semanticIngest(e: DataFrame, raw: DataFrame): DataFrame =
    streamingSemanticDedup(
      e.filter(col("vec_id") % 5 =!= 0),
      raw.filter(col("vec_id") % 5 === 0),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))

  private[graft] def streamingSemanticOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, vn, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1)
       |SELECT a.vec_id AS corpus_id, b.vec_id AS batch_id,
       |  ${duckDot("a.va", "b.va")} / (a.vn * b.vn) AS cosine
       |FROM asg a JOIN asg b USING (cid)
       |WHERE a.vec_id % 5 <> 0 AND b.vec_id % 5 = 0
       |  AND ${duckDot("a.va", "b.va")} / (a.vn * b.vn) >= $SemIngestMinCos""".stripMargin

  // ------------------------------------------------------ LSH-bucketed ANN

  private val NumPlanes = 16
  private val Dim = 64

  /** Deterministic pseudo-random hyperplanes (splitmix64 finalizer over
    * the flat index). */
  private[llm] def planes: Array[Array[Double]] = planesN(NumPlanes)

  /** Round 12: the original raw-LCG planes were LATTICE-CORRELATED
    * (mean pairwise |cos| 0.33, worst pairs at 0.996 — near-duplicate
    * planes contributing almost no fresh bit), which made sign-bucket
    * occupancy heavy-tailed: measured background collision per band ran
    * 11×/24×/45× the uniform 2^−rowBits at 12/14/16 bits, and each
    * added signature bit bought only ×0.71 candidate-mass reduction
    * instead of ×0.5 — the hidden reason the r11 smoke saw pairs/vec
    * double with N. The splitmix64 finalizer decorrelates the family
    * (mean |cos| 0.10 ≈ the 1/√dim random-direction expectation; skew
    * 1.2–2.1; decay ≈ ×0.53/bit, measured). Components are exact
    * thousandths, so the decimal literals round-trip identically into
    * Spark codegen and DuckDB SQL — parity is unaffected by the value
    * change because every oracle regenerates from this one function.
    */
  private[graft] def planesN(n: Int): Array[Array[Double]] =
    Array.tabulate(n, Dim) { (j, i) =>
      var z = (j.toLong * Dim + i) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (java.lang.Long.remainderUnsigned(z, 2001L) - 1000L) / 1000.0
    }

  private def annLshSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    lshAnn(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")), 3)
  }

  /** Sign-bucket under the deterministic hyperplane family + L2 norm. */
  private def bucketed(df: DataFrame): DataFrame = {
    // literal arrays parse as decimals; graft_dot wants float/double
    val planeLits = planes.map(_.mkString("cast(array(", ", ", ") as array<double>)"))
    val bucketExpr = planeLits.zipWithIndex.map { case (p, j) =>
      s"CASE WHEN ${sparkDot("embedding", p)} > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")
    df.withColumn("bucket", expr(s"cast($bucketExpr as int)"))
      .withColumn("nrm", expr(s"${sparkNorm("embedding")}"))
  }

  /** Public API: LSH-bucketed approximate nearest neighbors — the scale
    * path. 16 deterministic hyperplanes hash each vector to a 16-bit
    * bucket; candidates only join within a bucket (shuffle keyed by
    * bucket, never all-pairs). Same column and `excludeSelf` contract
    * as [[cosineTopK]].
    */
  def lshAnn(queries: DataFrame, candidates: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val q = bucketed(queries).select(col("query_id"),
      col("embedding").as("qa"), col("nrm").as("qn"), col("bucket"))
    val c = bucketed(candidates).select(col("neighbor_id"),
      col("embedding").as("ca"), col("nrm").as("cn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(c, "bucket")
      .filter(!lit(excludeSelf) || col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  /** Oracle for the LSH ANN path: the hyperplanes are deterministic (LCG
    * over the flat index), so the SAME [[planes]] array renders as DuckDB
    * list literals and the bucket assignment + in-bucket top-k reproduce
    * exactly (identical IEEE fold order for every dot product).
    */
  private def annLshOracle: String = annLshOracleK(3)

  private def annLshOracleK(k: Int): String = {
    val planeLits = planes.map(_.mkString("[", ", ", "]"))
    val bucketExpr = planeLits.zipWithIndex.map { case (p, j) =>
      s"CASE WHEN ${duckDot("va", p)} > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |b AS (SELECT vec_id, va, ${duckNorm("va")} AS nn,
       |    cast($bucketExpr as int) AS bucket FROM v),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${duckDot("q.va", "c.va")} / (q.nn * c.nn) AS cosine
       |  FROM b q JOIN b c USING (bucket)
       |  WHERE q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM p)
       |SELECT query_id, neighbor_id, cosine, rn FROM r WHERE rn <= $k""".stripMargin
  }

  // ------------------------------------------- recall curve (s16)

  /** Recall@k sweep of the LSH index against the exact top-5 ground
    * truth — d22's operating-curve idea applied to ANN: the index is
    * priced at several k cut-offs in ONE pass (both rankings computed
    * once at k=5, each smaller k is a rank filter). The acceptance
    * report an index rollout reads before routing production traffic.
    */
  private def recallCurveSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val exact = cosineTopK(q, c, 5)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("er"))
    val lsh = lshAnn(q, c, 5)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("lr"))
    val j = exact.join(lsh, Seq("query_id", "neighbor_id"))
    val nq = exact.agg(countDistinct(col("query_id")).as("nq"))
    import s.implicits._
    val ks = Seq(1, 3, 5).toDF("k")
    ks.join(j, col("er") <= col("k") && col("lr") <= col("k"), "left")
      .groupBy(col("k")).agg(count(col("er")).as("n_matches"))
      .crossJoin(broadcast(nq))
      .select(col("k"), col("n_matches"),
        expr("cast(n_matches * 1000000 div (nq * k) as bigint)")
          .as("recall_fx"))
  }

  private def recallCurveOracle: String =
    s"""WITH exact AS (${cosineTopKOracle(5)}),
       |lshq AS (${annLshOracleK(5)}),
       |j AS (SELECT e.query_id, e.rn AS er, l.rn AS lr FROM exact e
       |  JOIN lshq l ON e.query_id = l.query_id
       |    AND e.neighbor_id = l.neighbor_id),
       |nq AS (SELECT count(DISTINCT query_id) AS nq FROM exact),
       |ks AS (SELECT unnest([1, 3, 5]) AS k),
       |m AS (SELECT ks.k, count(j.er) AS n_matches FROM ks
       |  LEFT JOIN j ON j.er <= ks.k AND j.lr <= ks.k GROUP BY ks.k)
       |SELECT k, cast(n_matches as bigint) AS n_matches,
       |  cast(n_matches * 1000000 // (nq * k) as bigint) AS recall_fx
       |FROM m, nq""".stripMargin

  // --------------------------------- truncated-dimension recall (s17)

  /** Prefix lengths priced by the s17 acceptance report. */
  private[llm] val TruncDims = Seq(8, 16, 32)

  /** Matryoshka-style dimension-truncation acceptance: recall@5 of
    * cosine search over the first `dim` coordinates against the exact
    * full-width top-5, for dim in {8, 16, 32}. THE report behind the
    * "can we store/search a prefix of the embedding" decision — a d-dim
    * prefix cuts index bytes and dot-product work by 64/d at 100 TB,
    * and this query prices exactly what that costs in retrieval
    * quality. Ground truth is computed ONCE; every truncated pass is
    * the same broadcast-queries × candidates scan shape as s01 (the
    * candidate side streams embarrassingly parallel and is never
    * re-shuffled); recall is fixed-point integer arithmetic.
    */
  def truncatedRecall(vecs: DataFrame, dims: Seq[Int], k: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val q = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = vecs.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val exact = cosineTopK(q, c, k)
      .select(col("query_id"), col("neighbor_id"))
    val nq = exact.agg(countDistinct(col("query_id")).as("nq"))
    val trunc = dims.map { dm =>
      cosineTopK(
          q.withColumn("embedding", expr(s"slice(embedding, 1, $dm)")),
          c.withColumn("embedding", expr(s"slice(embedding, 1, $dm)")), k)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("dim", lit(dm))
    }.reduce(_ unionAll _)
    val j = exact.join(trunc, Seq("query_id", "neighbor_id"))
    dims.toDF("dim").join(j, Seq("dim"), "left")
      .groupBy(col("dim")).agg(count(col("query_id")).as("n_matches"))
      .crossJoin(broadcast(nq))
      .select(col("dim"), col("n_matches"),
        // nq = 0 guard: an empty corpus prices to recall 0, not a
        // divide-by-zero under ANSI mode (empty-input contract)
        expr(s"cast(CASE WHEN nq = 0 THEN 0 " +
          s"ELSE n_matches * 1000000 div (nq * $k) END as bigint)")
          .as("recall_fx"))
  }

  private def truncatedRecallSpark(s: SparkSession, d: String): DataFrame =
    truncatedRecall(Catalog.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding")), TruncDims, 5)

  /** cosineTopKOracle over the first `dm` coordinates only. */
  private def truncTopKOracle(dm: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id,
       |    (cast(embedding AS DOUBLE[]))[1:$dm] AS qa FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |qn AS (SELECT query_id, qa, ${duckNorm("qa")} AS qn FROM q),
       |c AS (SELECT vec_id AS neighbor_id,
       |    (cast(embedding AS DOUBLE[]))[1:$dm] AS ca FROM embeddings),
       |cn AS (SELECT neighbor_id, ca, ${duckNorm("ca")} AS cn FROM c),
       |p AS (SELECT query_id, neighbor_id,
       |    ${duckDot("qa", "ca")} / (qn * cn) AS cosine
       |  FROM qn, cn WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM p)
       |SELECT query_id, neighbor_id FROM r WHERE rn <= $k""".stripMargin

  private def truncatedRecallOracle: String = {
    val tt = TruncDims.map(dm =>
      s"SELECT $dm AS dim, query_id, neighbor_id FROM (${truncTopKOracle(dm, 5)})")
      .mkString("\n  UNION ALL ")
    s"""WITH exact AS (${cosineTopKOracle(5)}),
       |tt AS ($tt),
       |j AS (SELECT tt.dim, tt.query_id FROM exact e JOIN tt
       |  ON e.query_id = tt.query_id AND e.neighbor_id = tt.neighbor_id),
       |nq AS (SELECT count(DISTINCT query_id) AS nq FROM exact),
       |dims AS (SELECT unnest([${TruncDims.mkString(", ")}]) AS dim),
       |m AS (SELECT dims.dim, count(j.query_id) AS n_matches FROM dims
       |  LEFT JOIN j ON j.dim = dims.dim GROUP BY dims.dim)
       |SELECT dim, cast(n_matches as bigint) AS n_matches,
       |  cast(CASE WHEN nq = 0 THEN 0
       |       ELSE n_matches * 1000000 // (nq * 5) END as bigint) AS recall_fx
       |FROM m, nq""".stripMargin
  }

  // -------------------------------- nProbe recall sweep (s20)

  /** Probe widths priced by the sweep (s16 sweeps k; this sweeps the
    * OTHER IVF tuning axis). */
  private val SweepProbes = Seq(1, 2, 4)
  private val SweepK = 5

  private def nprobeSweepSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    nprobeSweep(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      SweepProbes, SweepK)
  }

  /** Recall@k of IVF search as a function of nProbe — the acceptance
    * curve that picks the probe width before production traffic (the
    * cost axis: each probe widens the candidate scan linearly, so the
    * knee of this curve IS the operating point). Computed in ONE scan
    * pass: candidates score once against the widest probe set with
    * their cell's probe rank attached, and every narrower width is a
    * rank FILTER over that memoized relation — the sweep costs one
    * IVF search regardless of how many widths are priced (s16's
    * one-pass discipline on the other axis). Ground truth is the
    * exact brute-force top-k, computed once and memoized.
    */
  def nprobeSweep(queries: DataFrame, candidates: DataFrame,
      centroids: DataFrame, probes: Seq[Int], k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val exact = cosineTopK(queries, candidates, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val nq = queries.count() // broadcast-side by contract (s01's shape)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = candidates.select(col("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val assigned = assignCells(c, cent)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val scored = queries.select(col("query_id"),
      col("embedding").cast("array<double>").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", expr(s"${sparkDot("qa", "cemb")} / (qn * cnrm)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= probes.max)
      .select(col("query_id"), col("qa"), col("qn"), col("cid"), col("prn"))
      .join(assigned, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("prn"))
      .localCheckpoint()
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.map { np =>
      scored.filter(col("prn") <= np)
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= k)
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_matches"))
        .select(lit(np).as("nprobe"), col("n_matches"),
          expr(s"cast(n_matches * 1000000 div ($nq * $k) as bigint)")
            .as("recall_fx"))
    }.reduce(_ union _)
  }

  private def nprobeSweepOracle: String = {
    val perNp = SweepProbes.map { np =>
      s"""t$np AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM cand WHERE prn <= $np) x WHERE rn <= $SweepK),
         |m$np AS (SELECT cast(count(*) as bigint) AS n FROM exact e
         |  JOIN t$np USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val rows = SweepProbes.map(np =>
      s"""SELECT $np AS nprobe, n AS n_matches,
         |  cast(n * 1000000 // (nq * $SweepK) as bigint) AS recall_fx
         |FROM m$np, q0""".stripMargin).mkString("\nUNION ALL ")
    s"""WITH exact AS (${cosineTopKOracle(SweepK)}),
       |v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |ctr AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id AS neighbor_id, va AS na, vn AS nn, cid FROM (
       |  SELECT v.*, ctr.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, ctr.cid ASC)
       |      AS arn
       |  FROM v, ctr) x WHERE arn = 1),
       |pr AS (SELECT query_id, qa, qn, cid, prn FROM (
       |  SELECT v.vec_id AS query_id, va AS qa, vn AS qn, ctr.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, ctr.cid ASC)
       |      AS prn
       |  FROM v, ctr WHERE v.vec_id < $NumQueries) x
       |  WHERE prn <= ${SweepProbes.max}),
       |cand AS (SELECT query_id, neighbor_id,
       |    ${duckDot("qa", "na")} / (qn * nn) AS cosine, prn
       |  FROM pr JOIN asg USING (cid)
       |  WHERE query_id <> neighbor_id),
       |q0 AS (SELECT cast(count(DISTINCT query_id) as bigint) AS nq
       |  FROM exact),
       |$perNp
       |$rows""".stripMargin
  }

  // -------------------------------- MMR diversified rerank (s18)

  /** MMR depth, shortlist width, relevance/diversity mix. λ = 0.7 is
    * carried in integer tenths (score = 7·rel − 3·maxsim) so the greedy
    * argmax never touches a float comparison. */
  private val MmrK = 5
  private val MmrShortlist = 20
  private[llm] val MmrFx = 10000000L

  private def mmrSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    mmrRerank(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      MmrK, MmrShortlist)
  }

  /** Maximal-marginal-relevance rerank: greedy top-k where round r
    * picks argmax(7·rel − 3·max-sim-to-already-picked) — the standard
    * retrieval diversifier (Carbonell & Goldstein '98) that keeps a
    * RAG context window from filling with five copies of the same
    * passage.
    *
    * Scale: the corpus-sized work is EXACTLY s01's broadcast top-k —
    * one streamed pass shortlists `shortlistN` candidates per query.
    * Everything greedy then runs on |Q|·shortlist rows: the pairwise
    * sim matrix is |Q|·shortlist² (computed once, memoized), and each
    * of the k−1 rounds is a bounded join + argmax over that cached
    * relation. The greedy loop's selected sets are eager 1-row-per-
    * query checkpoints, so round plans stay flat instead of nesting
    * exponentially. All scores are fixed-point bigints with
    * neighbor-id tie-breaks — bit-stable across engines and retries.
    */
  def mmrRerank(queries: DataFrame, candidates: DataFrame, k: Int,
      shortlistN: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("query_id"),
      col("embedding").cast("array<double>").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
    val c = candidates.select(col("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("rel_fx").desc, col("neighbor_id").asc)
    val short = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("rel_fx", expr(
        s"cast(round(${sparkDot("qa", "ca")} / (qn * cn) * $MmrFx) as bigint)"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlistN)
      .select(col("query_id"), col("neighbor_id"), col("rel_fx"),
        col("ca"), col("cn"))
      .localCheckpoint()
    val ps = short
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("ca").as("aa"), col("cn").as("an"))
      .join(short.select(col("query_id"), col("neighbor_id").as("sel_id"),
        col("ca").as("ba"), col("cn").as("bn")), Seq("query_id"))
      .filter(col("cand_id") =!= col("sel_id"))
      .withColumn("sim_fx", expr(
        s"cast(round(${sparkDot("aa", "ba")} / (an * bn) * $MmrFx) as bigint)"))
      .select(col("query_id"), col("cand_id"), col("sel_id"), col("sim_fx"))
      .localCheckpoint()
    val slim = short.select(col("query_id"), col("neighbor_id"), col("rel_fx"))
    val p1 = slim
      .withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel_fx"),
        expr("7 * rel_fx").as("score_fx"), lit(1).as("rank"))
      .localCheckpoint()
    var picks = Vector(p1)
    var sel = p1
    for (r <- 2 to k) {
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("score_fx").desc, col("cand_id").asc)
      val p = slim
        .join(sel.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .withColumnRenamed("neighbor_id", "cand_id")
        .join(sel.select(col("query_id"), col("neighbor_id").as("sel_id")),
          Seq("query_id"))
        .join(ps, Seq("query_id", "cand_id", "sel_id"))
        .groupBy(col("query_id"), col("cand_id"), col("rel_fx"))
        .agg(max(col("sim_fx")).as("msim"))
        .withColumn("score_fx", expr("7 * rel_fx - 3 * msim"))
        .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("neighbor_id"),
          col("rel_fx"), col("score_fx"), lit(r).as("rank"))
        .localCheckpoint()
      picks = picks :+ p
      sel = sel.union(p)
    }
    picks.reduce(_ union _)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("score_fx"))
  }

  private def mmrOracle: String = {
    val rounds = (2 to MmrK).map { r =>
      s"""cand$r AS (SELECT s.query_id, s.neighbor_id AS cand_id, s.rel_fx,
         |    max(p.sim_fx) AS msim
         |  FROM short s
         |  JOIN sel${r - 1} t ON t.query_id = s.query_id
         |  JOIN ps p ON p.query_id = s.query_id
         |    AND p.cand_id = s.neighbor_id AND p.sel_id = t.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
         |    WHERE z.query_id = s.query_id
         |      AND z.neighbor_id = s.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |p$r AS (SELECT query_id, cand_id AS neighbor_id, rel_fx,
         |    score_fx, $r AS rank FROM (
         |  SELECT *, 7 * rel_fx - 3 * msim AS score_fx,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (7 * rel_fx - 3 * msim) DESC, cand_id ASC) AS rn
         |  FROM cand$r) x WHERE rn = 1),
         |sel$r AS (SELECT query_id, neighbor_id FROM sel${r - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM p$r)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to MmrK).map(r =>
      s"SELECT query_id, rank, neighbor_id, score_fx FROM p$r")
      .mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, va AS qa, vn AS qn FROM v
       |  WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id AS neighbor_id, va AS ca, vn AS cn FROM v),
       |rel AS (SELECT query_id, neighbor_id,
       |    cast(round(${duckDot("qa", "ca")} / (qn * cn) * $MmrFx)
       |      as bigint) AS rel_fx
       |  FROM q, c WHERE query_id <> neighbor_id),
       |short AS (SELECT query_id, neighbor_id, rel_fx FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel_fx DESC, neighbor_id ASC) AS srn FROM rel) x
       |  WHERE srn <= $MmrShortlist),
       |ps AS (SELECT s1.query_id, s1.neighbor_id AS cand_id,
       |    s2.neighbor_id AS sel_id,
       |    cast(round(${duckDot("c1.ca", "c2.ca")} / (c1.cn * c2.cn)
       |      * $MmrFx) as bigint) AS sim_fx
       |  FROM short s1
       |  JOIN short s2 ON s1.query_id = s2.query_id
       |    AND s1.neighbor_id <> s2.neighbor_id
       |  JOIN c c1 ON c1.neighbor_id = s1.neighbor_id
       |  JOIN c c2 ON c2.neighbor_id = s2.neighbor_id),
       |p1 AS (SELECT query_id, neighbor_id, rel_fx,
       |    7 * rel_fx AS score_fx, 1 AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel_fx DESC, neighbor_id ASC) AS rn FROM short) x
       |  WHERE rn = 1),
       |sel1 AS (SELECT query_id, neighbor_id FROM p1),
       |$rounds
       |SELECT query_id, cast(rank as int) AS rank, neighbor_id, score_fx
       |FROM ($finalSel) u""".stripMargin
  }

  // --------------------------------------------- reciprocal-rank fusion

  /** s21 constants: each retriever contributes its top [[FusionK]]; the
    * fused list keeps [[TopK]]. The cheap retriever ranks on the first
    * [[FusionTruncDim]] dims (the Matryoshka-truncation idiom s17
    * evaluates); RRF scores are exact integers `1e9 div (60 + rank)` —
    * same floor division in both engines, so fusion needs no doubles at
    * all beyond the retrievers' own cosine orderings.
    */
  private val FusionK = 10
  private val FusionTruncDim = 16

  /** Reciprocal-rank fusion of two retrievers over the same query panel:
    * the full-precision exact ranking (the expensive retriever) and the
    * 16-dim truncated ranking (the cheap first-pass). The ensemble
    * pattern hybrid retrieval uses in production — RRF needs only each
    * retriever's RANKS, so retrievers of incomparable score scales
    * compose without calibration. Both inputs reuse [[cosineTopK]]
    * (broadcast queries, embarrassingly-parallel candidate scan); the
    * fusion itself is one full-outer join on (query, neighbor) over two
    * |Q|×k lists — report-sized at any corpus width.
    */
  private def rankFusionSpark(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Catalog.t(s, d, "embeddings")
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cands = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val dense = cosineTopK(queries, cands, FusionK)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("rn_a"))
    val cheap = cosineTopK(
      queries.withColumn("embedding",
        slice(col("embedding"), 1, FusionTruncDim)),
      cands.withColumn("embedding",
        slice(col("embedding"), 1, FusionTruncDim)), FusionK)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("rn_b"))
    val fused = dense.join(cheap, Seq("query_id", "neighbor_id"),
        "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(expr("1000000000 div (60 + rn_a)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + rn_b)"), lit(0L)))
          .as("rrf_fx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fx").desc, col("neighbor_id").asc)
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("query_id", "neighbor_id", "rrf_fx", "rn")
  }

  private def rankFusionOracle: String = {
    def ranked(dimSlice: String): String =
      s"""SELECT query_id, neighbor_id, rn FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM (SELECT q.query_id, c.neighbor_id,
         |      ${duckDot("qa", "ca")} / (q.qn * c.cn) AS cosine
         |    FROM (SELECT vec_id AS query_id,
         |        (cast(embedding AS DOUBLE[]))$dimSlice AS qa,
         |        ${duckNorm(s"(cast(embedding AS DOUBLE[]))$dimSlice")} AS qn
         |      FROM embeddings WHERE vec_id < $NumQueries) q,
         |      (SELECT vec_id AS neighbor_id,
         |        (cast(embedding AS DOUBLE[]))$dimSlice AS ca,
         |        ${duckNorm(s"(cast(embedding AS DOUBLE[]))$dimSlice")} AS cn
         |      FROM embeddings) c
         |    WHERE q.query_id <> c.neighbor_id) p) r
         |WHERE rn <= $FusionK""".stripMargin
    s"""WITH ra AS (${ranked("")}),
       |rb AS (${ranked(s"[1:$FusionTruncDim]")}),
       |f AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
       |    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
       |    cast(coalesce(1000000000 // (60 + a.rn), 0)
       |      + coalesce(1000000000 // (60 + b.rn), 0) as bigint) AS rrf_fx
       |  FROM ra a FULL JOIN rb b ON a.query_id = b.query_id
       |    AND a.neighbor_id = b.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_fx DESC, neighbor_id ASC) AS rn FROM f)
       |SELECT query_id, neighbor_id, rrf_fx, cast(rn as int) AS rn
       |FROM r WHERE rn <= $TopK""".stripMargin
  }
}
