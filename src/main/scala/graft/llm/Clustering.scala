package graft.llm

import graft.{Catalog, Materialize, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding clustering + compressed-domain search: the index-TRAINING
  * side of the ANN stack (s02/s03/s06 are the index-USE side).
  *
  * - c01: one Lloyd iteration of spherical k-means — the step that
  *   trains IVF cells and PQ codebooks. Assignment reuses the
  *   shuffle-free inlined-centroid argmax of s03; the re-estimation is
  *   a fixed-point (cid, dim) aggregation so the means are
  *   cross-engine exact integers (a double sum's partial-agg order is
  *   not reproducible; scaled-long sums are).
  * - s07: PQ asymmetric-distance (ADC) scoring — queries stay
  *   full-precision while candidates are scanned via their 4-byte PQ
  *   codes, the memory layout billion-scale ANN actually serves.
  *   Codeword lookups inline as literal maps (shuffle-free narrow
  *   map); only the per-query top-k window shuffles.
  *
  * Scale notes (100 TB stance): c01's shuffle is partial-aggregated
  * (cid x dim) sums — volume is partitions x C x dim regardless of N.
  * s07 scans candidates embarrassingly parallel; at scale you compose
  * it with s03's cell probing so only probed cells are scanned. Both
  * reuse `graft_dot`-style sequential folds, so every double matches
  * the DuckDB oracle bit-for-bit.
  */
object Clustering {
  import Similarity.{CentroidEvery, NumQueries, PqM, assignCells, dlit, duckDot, duckNorm, sparkDot, sparkNorm}

  /** Fixed-point scale for centroid means: embeddings are O(1) floats,
    * so scaled-long sums stay far below 2^62 at any realistic cluster
    * size (1e7 scale x 1e12 rows x O(1) values ~ 1e19 needs care; at
    * that N, shard the mean by (cid, dim, salt) and re-sum — noted, not
    * needed at gate scale).
    */
  private val MeanFx = 10000000L // 1e7

  private val AdcTopK = 3

  def all: Seq[QueryDef] = Seq(
    QueryDef("c01_kmeans_step", Some(kmeansOracle), kmeansSpark),
    QueryDef("c02_kmeans_train", Some(kmeansTrainOracle), kmeansTrainSpark),
    QueryDef("c03_cluster_eval", Some(clusterEvalOracle), clusterEvalSpark),
    QueryDef("c04_kmeanspp_seed", Some(seedOracle), (s, d) =>
      kmeansppSeed(Catalog.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")), SeedK)),
    QueryDef("s07_ivf_pq_adc", Some(adcOracle), adcSpark),
    QueryDef("s08_adc_rerank", Some(rerankOracle), rerankSpark),
    QueryDef("d13_semdedup", Some(semDedupOracle), semDedupSpark),
    QueryDef("c05_silhouette", Some(silhouetteOracle), silhouetteSpark),
    QueryDef("c06_bisect_split", Some(bisectOracle), bisectSpark),
    QueryDef("c07_cluster_purity", Some(purityOracle), puritySpark),
    QueryDef("c08_elbow", Some(elbowOracle), elbowSpark),
    QueryDef("c09_davies_bouldin", Some(dbOracle), dbSpark),
    QueryDef("c10_rand_index", Some(randOracle), randSpark),
    QueryDef("s19_centroid_drift", Some(driftOracle), driftSpark),
    QueryDef("c11_dbscan_core", Some(dbscanOracle), dbscanSpark),
    QueryDef("c12_split_stability", Some(stabilityOracle), stabilitySpark),
    QueryDef("c13_calinski_harabasz", Some(chOracle), chSpark)
  )

  // ----------------------------------------------- elbow curve (c08)

  /** k values priced by the elbow sweep. NESTED seed sets (vec_id < k)
    * make the curve provably monotone: every larger k only ADDS
    * centroids, so each vector's best cosine can only improve and
    * inertia never rises — a law the spec pins.
    */
  private[llm] val ElbowKs = Seq(2, 4, 8, 16)

  /** Inertia-vs-k model-selection sweep (the "elbow" report): for each
    * candidate k, assign every vector to its nearest seed centroid
    * (cosine, zero-norm-guarded) and total the cosine distances in
    * fixed point. All four candidate centroid SETS ride ONE broadcast
    * (2+4+8+16 = 30 rows) against ONE candidate scan — the sweep costs
    * one pass over the corpus regardless of how many k values are
    * priced, which is the whole point at 100 TB (vs re-running c01 per
    * k). Per-(k, vector) min-distance is an order-independent `max`
    * aggregate; the only float ops are per-row expressions; sums are
    * exact scaled longs (c01's MeanFx discipline).
    */
  def elbowCurve(vecs: DataFrame, ks: Seq[Int]): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val s = vecs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("vn", expr(s"${sparkNorm("va")}"))
    val cents = v.filter(col("vec_id") < ks.max)
      .crossJoin(ks.toDF("k")).filter(col("vec_id") < col("k"))
      .select(col("k"), col("vec_id").as("cid"),
        col("va").as("ca"), col("vn").as("cn"))
    val best = v.crossJoin(broadcast(cents))
      .withColumn("cosine", expr(s"${sparkDot("va", "ca")} / (vn * cn)"))
      .groupBy(col("k"), col("vec_id")).agg(max(col("cosine")).as("best_cos"))
    val inertia = best
      .withColumn("fx",
        expr(s"cast(round((1 - best_cos) * $MeanFx) as bigint)"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_vectors"),
        sum(col("fx")).as("inertia_fx"))
    inertia
      .withColumn("delta_fx",
        lag(col("inertia_fx"), 1).over(Window.orderBy(col("k")))
          - col("inertia_fx"))
      .select(col("k"), col("n_vectors"), col("inertia_fx"), col("delta_fx"))
  }

  private def elbowSpark(s: SparkSession, d: String): DataFrame =
    elbowCurve(Catalog.t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding")), ElbowKs)

  private def elbowOracle: String =
    s"""WITH ks AS (SELECT unnest([${ElbowKs.mkString(", ")}]) AS k),
       |v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn FROM embeddings),
       |c AS (SELECT k, vec_id AS cid, va AS ca, vn AS cn FROM v, ks
       |  WHERE vec_id < k),
       |best AS (SELECT c.k, v.vec_id,
       |    max(${duckDot("va", "ca")} / (vn * cn)) AS best_cos
       |  FROM v, c GROUP BY c.k, v.vec_id),
       |i AS (SELECT k, cast(count(*) as bigint) AS n_vectors,
       |    cast(sum(cast(round((1 - best_cos) * $MeanFx) as bigint))
       |      as bigint) AS inertia_fx
       |  FROM best GROUP BY k)
       |SELECT k, n_vectors, inertia_fx,
       |  lag(inertia_fx) OVER (ORDER BY k) - inertia_fx AS delta_fx
       |FROM i""".stripMargin

  // ------------------------------------------ cluster purity (c07)

  /** External clustering validation against the ground-truth `label`
    * column: per IVF cell, the member count, majority label (count
    * desc, label asc tie-break), how many members carry it, and the
    * purity in fixed-point. The supervised complement to c03's inertia
    * and c05's silhouette — the one metric that says whether the cells
    * mean anything. Assignment is the shared inline-centroid fold; the
    * majority pick is one per-cell window over the (cell, label)
    * aggregate (rows bounded by cells × labels, never corpus-wide).
    */
  private def puritySpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    clusterPurity(
      e.select(col("vec_id"), col("label"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  def clusterPurity(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"), col("label"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val asg = Similarity.assignCells(c.drop("label"), cent)
      .join(c.select(col("neighbor_id"), col("label")), "neighbor_id")
    val cl = asg.groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("n").desc, col("label").asc)
    cl.withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        sum(col("n")).over(Window.partitionBy(col("cid"))))
      .filter(col("rn") === 1)
      .select(col("cid"), col("n_members"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        expr("cast(n * 1000000 div n_members as bigint)").as("purity_fx"))
  }

  private def purityOracle: String =
    s"""WITH v AS (SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, label, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |cl AS (SELECT cid, label, count(*) AS n FROM asg GROUP BY 1, 2),
       |r AS (SELECT cid, label, n,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY n DESC, label ASC) AS rn,
       |    sum(n) OVER (PARTITION BY cid) AS n_members FROM cl)
       |SELECT cid, cast(n_members as bigint) AS n_members,
       |  label AS majority_label, cast(n as bigint) AS n_majority,
       |  cast(n * 1000000 // n_members as bigint) AS purity_fx
       |FROM r WHERE rn = 1""".stripMargin

  // ------------------------------------------ bisecting split (c06)

  private def bisectSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    bisectLargest(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  /** Public API: one bisecting-k-means split — the top-down refinement
    * step (Steinbach et al. 2000) a curation pipeline applies when one
    * cell of the coarse model is too big: pick the LARGEST cluster
    * (count desc, cid tie-break), seed two children deterministically
    * (child 0 = the member with minimum vec_id, child 1 = the member
    * LEAST cosine-similar to it — the maximin spread pick), assign the
    * cluster's members to the nearer child (ties to child 0), and
    * return the two replacement centroids in c01's fixed-point
    * per-dimension shape, tagged with the parent cid.
    *
    * Scale: assignment is the shared inline-centroid fold; the split
    * touches ONLY the target cluster's members (cached once, three
    * narrow passes); both seed picks are 1-row TakeOrdered collects, so
    * nothing corpus-sized approaches the driver and nothing shuffles
    * except the final per-dimension aggregate, which is pinned (two
    * rows per dimension) while the member cache lives.
    */
  def bisectLargest(vecs: DataFrame, centroids: DataFrame): DataFrame =
    Materialize.scoped { scope =>
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val asg = Similarity.assignCells(c, cent)
    val target = asg.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cid").asc).limit(1)
      .select(col("cid")).collect()(0).getLong(0)
    val m = scope.cache(asg.filter(col("cid") === target)
      .select(col("neighbor_id"), col("ca"), col("cn")))
    def seedLit(r: org.apache.spark.sql.Row): (String, String) = {
      val emb = r.getSeq[Double](1)
      (s"array(${emb.map(Similarity.dlit).mkString(",")})",
        Similarity.dlit(r.getDouble(2)))
    }
    val (aa, an) = seedLit(
      m.orderBy(col("neighbor_id").asc).limit(1).collect()(0))
    val cosA = s"${sparkDot("ca", aa)} / (cn * $an)"
    val (ba, bn) = seedLit(
      m.withColumn("cosa", expr(cosA))
        .orderBy(col("cosa").asc, col("neighbor_id").asc)
        .limit(1).collect()(0))
    m.withColumn("sub_id",
        expr(s"IF($cosA >= ${sparkDot("ca", ba)} / (cn * $bn), " +
          "cast(0 as bigint), cast(1 as bigint))"))
      .select(col("sub_id"), posexplode(col("ca")).as(Seq("dim", "x")))
      .groupBy(col("sub_id"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        sum(expr(s"cast(round(x * $MeanFx) as bigint)")).as("sum_fx"))
      .select(lit(target).as("parent_cid"), col("sub_id"), col("dim"),
        col("n_members"), expr("sum_fx div n_members").as("mean_fx"))
      .localCheckpoint(true)
  }

  private def bisectOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, vn, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |tgt AS (SELECT cid FROM asg GROUP BY cid
       |  ORDER BY count(*) DESC, cid ASC LIMIT 1),
       |m AS (SELECT vec_id, va, vn FROM asg JOIN tgt USING (cid)),
       |sa AS (SELECT va AS aa, vn AS an FROM m
       |  WHERE vec_id = (SELECT min(vec_id) FROM m)),
       |sb AS (SELECT va AS ba, vn AS bn FROM m, sa
       |  ORDER BY ${duckDot("va", "aa")} / (vn * an) ASC, vec_id ASC
       |  LIMIT 1),
       |sub AS (SELECT m.vec_id, m.va,
       |    CASE WHEN ${duckDot("va", "aa")} / (vn * an)
       |        >= ${duckDot("va", "ba")} / (vn * bn)
       |      THEN 0 ELSE 1 END AS sub_id
       |  FROM m, sa, sb),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |px AS (SELECT sub_id, cast(i - 1 as bigint) AS dim,
       |    cast(round(va[i] * $MeanFx) as bigint) AS fx
       |  FROM sub, dims)
       |SELECT (SELECT cid FROM tgt) AS parent_cid,
       |  cast(sub_id as bigint) AS sub_id, dim, count(*) AS n_members,
       |  cast(sum(fx) as bigint) // count(*) AS mean_fx
       |FROM px GROUP BY sub_id, dim""".stripMargin

  // -------------------------------------------- silhouette score (c05)

  /** Centroid-approximated silhouette per cluster: for every point,
    * `a` = L2 distance to its ASSIGNED centroid, `b` = distance to the
    * nearest OTHER centroid, `s = (b - a) / max(a, b)` — the standard
    * O(N·C) silhouette surrogate (the exact pairwise silhouette is
    * O(N²) and never runs at corpus scale). Reported per cluster as a
    * fixed-point mean, so k/seed choices compare on separation, not
    * just c03's inertia.
    *
    * Scale: assignment is the shared inline-centroid fold; distances
    * come from ONE broadcast crossJoin (N×C narrow rows with map-side
    * partial min), then two keyed aggregations. No window, no
    * all-pairs.
    */
  private def silhouetteSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    silhouette(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  def silhouette(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val others = centroids.select(col("cid").as("ocid"),
      col("embedding").cast("array<double>").as("cvec"))
    assignCells(c, cent)
      .crossJoin(broadcast(others))
      .withColumn("sqd", expr(
        "aggregate(zip_with(ca, cvec, (x, y) -> (x - y) * (x - y)), " +
          "cast(0 as double), (a, v) -> a + v)"))
      .groupBy(col("neighbor_id"))
      .agg(first(col("cid")).as("cid"),
        min(when(col("ocid") === col("cid"), col("sqd"))).as("a2"),
        min(when(col("ocid") =!= col("cid"), col("sqd"))).as("b2"))
      .withColumn("sil", expr(
        """CASE WHEN greatest(sqrt(a2), sqrt(b2)) = 0 THEN cast(0 as double)
          |  ELSE (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)) END""".stripMargin))
      .withColumn("fx", expr(s"cast(round(sil * $MeanFx) as bigint)"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        expr(s"sum(fx) div count(*)").as("mean_sil_fx"))
  }

  private def silhouetteOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |d2 AS (SELECT a.vec_id, a.cid, c.cid AS ocid,
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(range(1, 65),
       |        i -> (a.va[i] - c.ca[i]) * (a.va[i] - c.ca[i]))),
       |      (x, y) -> x + y) AS sqd
       |  FROM asg a, c),
       |ab AS (SELECT vec_id, cid,
       |    min(CASE WHEN ocid = cid THEN sqd END) AS a2,
       |    min(CASE WHEN ocid <> cid THEN sqd END) AS b2
       |  FROM d2 GROUP BY vec_id, cid),
       |sil AS (SELECT cid,
       |    cast(round((CASE WHEN greatest(sqrt(a2), sqrt(b2)) = 0
       |      THEN cast(0 as double)
       |      ELSE (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)) END)
       |      * $MeanFx) as bigint) AS fx
       |  FROM ab)
       |SELECT cid, count(*) AS n_members,
       |  cast(sum(fx) as bigint) // count(*) AS mean_sil_fx
       |FROM sil GROUP BY cid""".stripMargin

  // ------------------------------------------------------ k-means step

  private def kmeansSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    kmeansStep(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  /** Public API: one spherical k-means Lloyd iteration. Assigns every
    * `(vec_id, embedding)` row to its nearest `(cid, embedding)`
    * centroid by cosine (ties -> lowest cid), then re-estimates each
    * centroid as the member mean, returned per dimension in fixed
    * point: `(cid, dim, n_members, mean_fx)` with
    * `mean_fx = sum(round(x * 1e7)) div n_members`.
    */
  def kmeansStep(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    assignCells(c, cent)
      .select(col("cid"), posexplode(col("ca")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        sum(expr(s"cast(round(x * $MeanFx) as bigint)")).as("sum_fx"))
      .select(col("cid"), col("dim"), col("n_members"),
        expr("sum_fx div n_members").as("mean_fx"))
  }

  // ------------------------------------------------- maximin seeding

  private val SeedK = 4

  /** Deterministic farthest-point (k-means++-style maximin) seeding
    * under cosine similarity: seed 1 is the minimum vec_id; each next
    * seed is the vector whose MAXIMUM cosine to the chosen set is
    * smallest (vec_id tie-break) — the spread-out initialization c01/
    * c02 consume. Each round is one broadcast join against the
    * k-row seed set + a 1-row argmin collect; the corpus itself never
    * shuffles, so rounds cost a scan each and k stays driver-sized.
    */
  def kmeansppSeed(vecs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val s = vecs.sparkSession
    import s.implicits._
    require(k >= 1, s"need at least one seed, got $k")
    val v = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
      .withColumn("vn", expr(s"${sparkNorm("va")}"))
      .localCheckpoint(true)
    require(!v.isEmpty,
      "k-means++ seeding needs a non-empty vector set (got 0 vectors)")
    val first = v.agg(min(col("vec_id"))).as[Long].head()
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    while (chosen.size < k) {
      val sdf = v.filter(col("vec_id").isin(chosen.toSeq: _*))
        .select(col("va").as("sa"), col("vn").as("sn"))
      // exclude already-chosen vectors from the candidate side: with
      // duplicate/parallel embeddings every chosen seed ties at cos=1.0
      // and could be re-selected, yielding duplicate seeds
      val next = v.filter(!col("vec_id").isin(chosen.toSeq: _*))
        .crossJoin(broadcast(sdf))
        .select(col("vec_id"),
          expr(s"${sparkDot("va", "sa")} / (vn * sn)").as("cos"))
        .groupBy(col("vec_id")).agg(max(col("cos")).as("mx"))
        .orderBy(col("mx").asc, col("vec_id").asc)
        .limit(1).select("vec_id").as[Long].head()
      chosen += next
    }
    chosen.toSeq.zipWithIndex
      .map { case (id, i) => (i + 1, id) }
      .toDF("rank", "vec_id")
  }

  private def seedOracle: String = {
    val dot = duckDot("v.va", "s.va")
    val rounds = (1 until SeedK).map { i =>
      s"""m$i AS (SELECT v.vec_id AS vid, max($dot / (v.vn * s.vn)) AS mx
         |  FROM v, seeds$i s
         |  WHERE v.vec_id NOT IN (SELECT vec_id FROM seeds$i)
         |  GROUP BY v.vec_id),
         |p$i AS (SELECT vid FROM m$i ORDER BY mx ASC, vid ASC LIMIT 1),
         |seeds${i + 1} AS (SELECT * FROM seeds$i
         |  UNION ALL SELECT v.* FROM v, p$i WHERE v.vec_id = vid)""".stripMargin
    }.mkString(",\n")
    val outs = (1 until SeedK)
      .map(i => s"UNION ALL SELECT cast(${i + 1} as int), vid FROM p$i")
      .mkString("\n")
    s"""WITH v0 AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va
       |  FROM embeddings),
       |v AS (SELECT vec_id, va, ${duckNorm("va")} AS vn FROM v0),
       |seeds1 AS (SELECT vec_id, va, vn FROM v
       |  WHERE vec_id = (SELECT min(vec_id) FROM v)),
       |$rounds
       |SELECT cast(1 as int) AS rank, vec_id FROM seeds1
       |$outs""".stripMargin
  }

  private def kmeansOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |px AS (SELECT cid, cast(i - 1 as bigint) AS dim,
       |    cast(round(va[i] * $MeanFx) as bigint) AS fx
       |  FROM asg, dims)
       |SELECT cid, dim, count(*) AS n_members,
       |  cast(sum(fx) as bigint) // count(*) AS mean_fx
       |FROM px GROUP BY cid, dim""".stripMargin

  // ---------------------------------------------------- cluster eval

  private def clusterEvalSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    clusterEval(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  /** Public API: clustering-quality evaluation — per-cluster member
    * count, total inertia (sum of squared L2 distance to the assigned
    * centroid), and mean member distance, all on the 1e7 fixed-point
    * scale so the metrics are cross-engine exact. The evaluation side
    * of c01/c02: inertia is THE quantity Lloyd iterations minimize, so
    * this is how k/seed choices get compared on a corpus.
    *
    * Scale: assignment is the shared inlined-centroid fold; the
    * distance fold runs inside the scan stage; the only shuffle is the
    * C-row aggregation (map-side partial).
    */
  def clusterEval(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val cvecs = centroids.select(col("cid"),
      col("embedding").cast("array<double>").as("cvec"))
    assignCells(c, cent)
      .join(broadcast(cvecs), "cid")
      .withColumn("sqd", expr(
        "aggregate(zip_with(ca, cvec, (x, y) -> (x - y) * (x - y)), " +
          "cast(0 as double), (a, v) -> a + v)"))
      .withColumn("fx", expr(s"cast(round(sqd * $MeanFx) as bigint)"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("fx")).as("inertia_fx"))
      .select(col("cid"), col("n_members"), col("inertia_fx"),
        expr("inertia_fx div n_members").as("mean_dist_fx"))
  }

  private def clusterEvalOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |d2 AS (SELECT a.cid, list_reduce(list_prepend(cast(0 as double),
       |    list_transform(range(1, 65),
       |      i -> (a.va[i] - c.ca[i]) * (a.va[i] - c.ca[i]))),
       |    (x, y) -> x + y) AS sqd
       |  FROM asg a JOIN c ON a.cid = c.cid)
       |SELECT cid, count(*) AS n_members,
       |  cast(sum(cast(round(sqd * $MeanFx) as bigint)) as bigint) AS inertia_fx,
       |  cast(sum(cast(round(sqd * $MeanFx) as bigint)) as bigint) // count(*)
       |    AS mean_dist_fx
       |FROM d2 GROUP BY cid""".stripMargin

  // ----------------------------------------------------- PQ ADC search

  private def adcSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    pqAdcTopK(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      PqM, AdcTopK)
  }

  /** Public API: asymmetric-distance top-k over PQ codes. Candidates
    * are encoded with [[Similarity.pqEncode]] against `codebook`; each
    * query's distance to a candidate is the sum of per-subspace squared
    * L2 distances between the query slice and the candidate's CODEWORD
    * (the query never quantizes — that is the "asymmetric" in ADC).
    * Returns `(query_id, neighbor_id, adc_dist, rn)`, rn over
    * (adc_dist asc, neighbor_id asc).
    */
  def pqAdcTopK(queries: DataFrame, candidates: DataFrame,
      codebook: DataFrame, m: Int, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val cents = codebook.select(col("cid").cast("long"),
      col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "pqAdcTopK needs a non-empty codebook")
    val dim = cents.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    val codes = Similarity.pqEncode(candidates
      .select(col("neighbor_id").as("vec_id"), col("embedding")), codebook, m)
      .select(col("vec_id").as("neighbor_id") +:
        (0 until m).map(mi => col(s"code_$mi")): _*)
    // per-subspace codeword lookup as a literal map cid -> slice:
    // ADC distances run inside the candidate scan stage, shuffle-free
    val distCols = (0 until m).map { mi =>
      val entries = cents.map { case (cid, emb) =>
        val slice = emb.slice(mi * sub, (mi + 1) * sub)
        s"cast($cid as bigint), array(${slice.map(dlit).mkString(",")})"
      }.mkString(", ")
      expr(s"aggregate(zip_with(slice(qa, ${mi * sub + 1}, $sub), " +
        s"element_at(map($entries), code_$mi), (x, y) -> (x - y) * (x - y)), " +
        "cast(0 as double), (a, x) -> a + x)").as(s"d_$mi")
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val scored = codes
      .crossJoin(broadcast(queries.select(col("query_id"),
        col("embedding").cast("array<double>").as("qa"))))
      .filter(!lit(excludeSelf) || col("query_id") =!= col("neighbor_id"))
      .select(col("query_id") +: col("neighbor_id") +: distCols: _*)
      // fixed fold order over subspaces (matches the oracle's CASE sum)
      .withColumn("adc_dist",
        (0 until m).map(mi => col(s"d_$mi")).reduce(_ + _))
      .select("query_id", "neighbor_id", "adc_dist")
    // per-partition bounded heap BEFORE the per-query window (the
    // hardNegatives pre-reduce, Similarity.boundedTopKPerKey): at most
    // |Q| x k rows per task reach the window sort, instead of one window
    // task per query absorbing ALL of that query's scored candidates —
    // the full candidates x queries relation never materializes through
    // an Exchange+sort. Best = (lowest adc_dist, lowest neighbor_id);
    // neighbor_id is unique per query, so the order is total.
    val reduced = Similarity.boundedTopKPerKey(scored, "query_id", k) { schema =>
      val dIdx = schema.fieldIndex("adc_dist")
      val nIdx = schema.fieldIndex("neighbor_id")
      Ordering.by[org.apache.spark.sql.Row, (Double, Long)](
        r => (-r.getDouble(dIdx), -r.getAs[Number](nIdx).longValue))
    }
    reduced
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "adc_dist", "rn")
  }

  // ------------------------------------------------ ADC shortlist re-rank

  /** Shortlist size for the exact re-rank stage: 3x the final k — the
    * usual compressed-first / exact-second serving ratio.
    */
  private val RerankShortlist = 3 * AdcTopK

  private def rerankSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    adcRerank(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      PqM, RerankShortlist, AdcTopK)
  }

  /** Public API: two-stage ANN serving — a PQ/ADC shortlist of
    * `shortlist` candidates per query ([[pqAdcTopK]]), re-ranked by
    * EXACT cosine against the full-precision embeddings, returning the
    * final top `k`. This is the standard billion-scale pattern: the
    * compressed scan touches every candidate cheaply; only
    * `queries x shortlist` rows ever load full vectors.
    *
    * Returns `(query_id, neighbor_id, adc_dist, cosine, rn)` with `rn`
    * over (cosine desc, neighbor_id asc).
    *
    * Scale: stage 1 is s07's shuffle shape; stage 2 joins the tiny
    * shortlist (broadcast by AQE) against candidates keyed by id —
    * full-precision vectors stream once, never all-pairs. The final
    * window partitions by query over `shortlist` rows each.
    */
  def adcRerank(queries: DataFrame, candidates: DataFrame,
      codebook: DataFrame, m: Int, shortlist: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = pqAdcTopK(queries, candidates, codebook, m, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"))
    val q = queries.select(col("query_id"),
      col("embedding").cast("array<double>").as("qa"))
      .withColumn("qn", expr(s"${sparkNorm("qa")}"))
    val c = candidates.select(col("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short.join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", expr(s"${sparkDot("qa", "ca")} / (qn * cn)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "adc_dist", "cosine", "rn")
  }

  private def rerankOracle: String =
    s"""WITH $adcCtes,
       |sl AS (SELECT query_id, neighbor_id, adc_dist FROM r
       |  WHERE rn <= $RerankShortlist),
       |vn AS (SELECT vec_id, va, ${duckNorm("va")} AS nn FROM v),
       |x AS (SELECT sl.query_id, sl.neighbor_id, sl.adc_dist,
       |    ${duckDot("q.va", "c.va")} / (q.nn * c.nn) AS cosine
       |  FROM sl JOIN vn q ON sl.query_id = q.vec_id
       |  JOIN vn c ON sl.neighbor_id = c.vec_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM x)
       |SELECT query_id, neighbor_id, adc_dist, cosine, rn
       |FROM rr WHERE rn <= $AdcTopK""".stripMargin

  // --------------------------------------------------- k-means training

  private val TrainIters = 3

  private def kmeansTrainSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    kmeansTrain(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      TrainIters)
  }

  /** Public API: full Lloyd training — `iters` spherical k-means rounds.
    * Each round is one [[kmeansStep]]; the re-estimated fixed-point
    * means (exact integers, so cross-engine and re-run reproducible)
    * become the next round's centroids as `mean_fx / 1e7` doubles.
    * Returns the FINAL round's `(cid, dim, n_members, mean_fx)`; empty
    * clusters drop out of later rounds.
    *
    * Scale: each round's shuffle is the partial-aggregated (cid x dim)
    * sum — volume `partitions x C x dim` regardless of N. Centroids are
    * small by contract (they inline into the assignment fold), so the
    * per-round collect is C x dim doubles on the driver — the same
    * cost any distributed k-means (e.g. MLlib) pays per iteration.
    */
  def kmeansTrain(vecs: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "kmeansTrain needs at least one iteration")
    val spark = vecs.sparkSession
    import spark.implicits._
    var cent = init.select(col("cid").cast("long").as("cid"),
      col("embedding").cast("array<double>").as("embedding"))
    // the per-round driver round-trip (collect means -> LocalRelation)
    // is only taken for centroid sets small enough to inline into the
    // assignment fold; above the bound the next-round centroids are
    // assembled DISTRIBUTED (one groupBy over the C x dim means) and
    // assignCells takes its min_by fallback — no C x dim rows ever
    // land on the driver, mirroring pqEncode's MaxInlineCentroids
    // guard instead of exploding the plan string
    val inline = init.count() <= Similarity.MaxInlineCentroids
    var step = kmeansStep(vecs, cent)
    for (_ <- 2 to iters) {
      cent =
        if (inline)
          step.select(col("cid"), col("dim"), col("mean_fx")).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .groupBy(_._1).toSeq.sortBy(_._1)
            .map { case (cid, ds) =>
              (cid, ds.sortBy(_._2).map(_._3.toDouble / MeanFx).toSeq)
            }.toDF("cid", "embedding")
        else
          // identical values to the driver path: mean_fx is an exact
          // long, the /1e7 double division is the same IEEE op, and
          // array_sort over (dim, _) reproduces the dim ordering
          step.groupBy(col("cid"))
            .agg(expr(
              s"""transform(array_sort(collect_list(struct(dim, mean_fx))),
                 |  s -> s.mean_fx / cast($MeanFx as double))""".stripMargin)
              .as("embedding"))
      step = kmeansStep(vecs, cent)
    }
    step
  }

  private def kmeansTrainOracle: String = {
    val va = "cast(embedding AS DOUBLE[])"
    val rounds = (1 to TrainIters).map { i =>
      val cPrev = if (i == 1) "c0" else s"c${i - 1}n"
      val step =
        s"""asg$i AS (SELECT vec_id, va, cid FROM (
           |  SELECT v.vec_id, v.va, c.cid,
           |    row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
           |  FROM v, $cPrev c) x WHERE arn = 1),
           |m$i AS (SELECT cid, cast(i - 1 as bigint) AS dim, count(*) AS n_members,
           |    cast(sum(cast(round(va[i] * $MeanFx) as bigint)) as bigint)
           |      // count(*) AS mean_fx
           |  FROM asg$i, dims GROUP BY cid, dim)""".stripMargin
      val assemble = if (i < TrainIters)
        s""",
           |c$i AS (SELECT cid, list(cast(mean_fx as double)
           |    / cast($MeanFx as double) ORDER BY dim) AS ca FROM m$i GROUP BY cid),
           |c${i}n AS (SELECT cid, ca, ${duckNorm("ca")} AS cn FROM c$i)""".stripMargin
      else ""
      step + assemble
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, $va AS va,
       |    ${duckNorm(va)} AS vn FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |$rounds
       |SELECT cid, dim, n_members, mean_fx FROM m$TrainIters""".stripMargin
  }

  // -------------------------------------------------- semantic dedup

  /** Cosine threshold for "semantically duplicate" — same working point
    * as d06's `NearDupMin` (28/500 vectors dropped at sf0.01: the gate
    * exercises real drops, not a vacuous empty set).
    */
  private val SemDedupTau = 0.4

  private def semDedupSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    semDedup(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      SemDedupTau)
  }

  /** Public API: SemDeDup-style semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540). Every vector is assigned to its nearest
    * centroid (the k-means cells [[kmeansStep]] trains); WITHIN each
    * cluster, a vector is dropped when some lower-id member is within
    * cosine `tau` of it. Returns `(vec_id, cid, dropped)`.
    *
    * Scale: the pairwise comparison is confined to one cluster — the
    * join is keyed by `cid`, never all-pairs, and cluster sizes are
    * bounded by choosing C proportional to N (SemDeDup's own recipe:
    * C ~ sqrt(N) keeps per-cluster work ~N total). Assignment is the
    * shuffle-free inlined-centroid fold shared with s03/c01.
    */
  def semDedup(vecs: DataFrame, centroids: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    // pinned: the assigned set feeds both sides of the in-cluster join
    val asg = assignCells(c, cent)
      .select(col("neighbor_id").as("vec_id"), col("cid"),
        col("ca"), col("cn")).localCheckpoint(true)
    val a = asg.select(col("cid"), col("vec_id").as("a_id"),
      col("ca").as("aa"), col("cn").as("an"))
    val b = asg.select(col("cid"), col("vec_id").as("b_id"),
      col("ca").as("ba"), col("cn").as("bn"))
    val dropped = a.join(b, "cid")
      .filter(col("a_id") < col("b_id"))
      .filter(expr(s"${sparkDot("aa", "ba")} / (an * bn)") >=
        expr(dlit(tau)))
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    asg.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  private def semDedupOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, vn, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |drp AS (SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${duckDot("a.va", "b.va")} / (a.vn * b.vn) >= ${dlit(SemDedupTau)})
       |SELECT asg.vec_id, cid, (d.vec_id IS NOT NULL) AS dropped
       |FROM asg LEFT JOIN drp d ON asg.vec_id = d.vec_id""".stripMargin

  private def adcOracle: String =
    s"""WITH $adcCtes
       |SELECT query_id, neighbor_id, adc_dist, rn FROM r WHERE rn <= $AdcTopK""".stripMargin

  /** ADC CTE chain through `r` (ranked ADC candidates) — shared by the
    * s07 oracle and the s08 re-rank oracle.
    */
  private def adcCtes: String = {
    val sub = 64 / PqM
    // fixed-order per-subspace sum, same shape as the s06 oracle
    val adcSum = (0 until PqM).map(mi =>
      s"max(CASE WHEN m = $mi THEN qd END)").reduce((a, b) => s"($a + $b)")
    s"""v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca FROM v WHERE vec_id % $CentroidEvery = 0),
       |ms AS (SELECT unnest(range(0, $PqM)) AS m),
       |pairs AS (SELECT v.vec_id, ms.m, c.cid, c.ca,
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(range(1, $sub + 1),
       |        i -> (va[m * $sub + i] - ca[m * $sub + i])
       |           * (va[m * $sub + i] - ca[m * $sub + i]))),
       |      (a, b) -> a + b) AS d
       |  FROM v, ms, c),
       |best AS (SELECT vec_id, m, cid, ca FROM (
       |  SELECT vec_id, m, cid, ca,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d ASC, cid ASC) AS rn FROM pairs) x WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, va AS qa FROM v WHERE vec_id < $NumQueries),
       |qd AS (SELECT q.query_id, b.vec_id AS neighbor_id, b.m,
       |    list_reduce(list_prepend(cast(0 as double),
       |      list_transform(range(1, $sub + 1),
       |        i -> (qa[b.m * $sub + i] - b.ca[b.m * $sub + i])
       |           * (qa[b.m * $sub + i] - b.ca[b.m * $sub + i]))),
       |      (a, b2) -> a + b2) AS qd
       |  FROM q, best b WHERE q.query_id <> b.vec_id),
       |adc AS (SELECT query_id, neighbor_id, $adcSum AS adc_dist
       |  FROM qd GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist ASC, neighbor_id ASC) AS rn FROM adc)""".stripMargin
  }

  // ------------------------------------------ Davies–Bouldin (c09)

  /** Davies–Bouldin cluster-validity index — the separation-aware
    * complement to c03's inertia and c05's silhouette surrogate: per
    * cluster i, scatter S_i = mean L2 distance of members to their
    * centroid; for every other cluster j, R_ij = (S_i + S_j) / M_ij
    * with M_ij the centroid L2 distance; DB_i = max_j R_ij (lower is
    * better — tight clusters far apart). Reported per cluster so a bad
    * cluster is locatable, not averaged away.
    *
    * Scale: assignment is the shared inline-centroid fold; the scatter
    * is ONE keyed aggregation of per-row fixed-point distances (exact
    * integer sums — a double mean's partial order is not
    * reproducible); everything after runs on C-row relations (C =
    * cluster count), so the pairwise R matrix is C², never N². Degenerate
    * coincident centroids (M_ij rounds to 0) are excluded from the max
    * on both engines rather than dividing by zero.
    */
  private def dbSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    daviesBouldin(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  def daviesBouldin(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cent = centroids.select(col("cid"), col("embedding").as("cemb"))
      .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
    val c = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    def l2(a: String, b: String): String =
      s"sqrt(aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
        s"cast(0 as double), (acc, v) -> acc + v))"
    val cvec = centroids.select(col("cid").as("jcid"),
      col("embedding").cast("array<double>").as("cvec"))
    val scatter = assignCells(c, cent)
      .join(broadcast(cvec), col("cid") === col("jcid"))
      .withColumn("fx",
        expr(s"cast(round(${l2("ca", "cvec")} * $MeanFx) as bigint)"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        expr("sum(fx) div count(*)").as("scatter_fx"))
    val ci = centroids.select(col("cid").as("i"),
      col("embedding").cast("array<double>").as("ia"))
    val cj = centroids.select(col("cid").as("j"),
      col("embedding").cast("array<double>").as("ja"))
    val m = ci.crossJoin(broadcast(cj))
      .filter(col("i") =!= col("j"))
      .withColumn("m_fx",
        expr(s"cast(round(${l2("ia", "ja")} * $MeanFx) as bigint)"))
      .filter(col("m_fx") > 0)
      .select(col("i"), col("j"), col("m_fx"))
    val si = scatter.select(col("cid").as("i"), col("scatter_fx").as("s_i"))
    val sj = scatter.select(col("cid").as("j"), col("scatter_fx").as("s_j"))
    val ratios = m.join(si, "i").join(sj, "j")
      .select(col("i"),
        expr("cast((s_i + s_j) * 1000000 div m_fx as bigint)").as("r_fx"))
      .groupBy(col("i")).agg(max(col("r_fx")).as("db_fx"))
    scatter.join(ratios, col("cid") === col("i"))
      .select(col("cid"), col("n_members"), col("scatter_fx"), col("db_fx"))
  }

  private def dbOracle: String = {
    def l2(a: String, b: String): String =
      s"""sqrt(list_reduce(list_prepend(cast(0 as double),
         |      list_transform(range(1, 65),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (acc, v) -> acc + v))""".stripMargin
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |sc AS (SELECT a.cid,
       |    cast(round(${l2("a.va", "c.ca")} * $MeanFx) as bigint) AS fx
       |  FROM asg a JOIN c ON a.cid = c.cid),
       |g AS (SELECT cid, count(*) AS n_members,
       |    cast(sum(fx) as bigint) // count(*) AS scatter_fx
       |  FROM sc GROUP BY cid),
       |m AS (SELECT a.cid AS i, b.cid AS j,
       |    cast(round(${l2("a.ca", "b.ca")} * $MeanFx) as bigint) AS m_fx
       |  FROM c a, c b WHERE a.cid <> b.cid),
       |r AS (SELECT m.i,
       |    max(cast((gi.scatter_fx + gj.scatter_fx) * 1000000 // m.m_fx
       |      as bigint)) AS db_fx
       |  FROM m JOIN g gi ON gi.cid = m.i JOIN g gj ON gj.cid = m.j
       |  WHERE m.m_fx > 0 GROUP BY m.i)
       |SELECT g.cid, g.n_members, g.scatter_fx, r.db_fx
       |FROM g JOIN r ON r.i = g.cid""".stripMargin
  }

  // ---------------------------------------- Rand index (c10)

  /** Offset for the second (perturbed) centroid seed set. */
  private val RandSeedOffset = 50L

  /** Clustering STABILITY via the Rand index: assign every vector
    * under two different centroid seed sets (vec_id ≡ 0 and ≡ 50 mod
    * CentroidEvery) and measure pairwise agreement — the fraction of
    * vector pairs both clusterings place together or both place apart.
    * A clustering that dissolves under a seed change (RI → chance)
    * is not structure, it's noise; this is the model-selection
    * stability check run next to c08's elbow.
    *
    * Scale: both assignments are the shuffle-free inline-centroid
    * fold; ONE id-keyed join pairs them; everything after runs on the
    * |cellsA|×|cellsB| contingency table. All pair counts are exact
    * integers (C(n,2) arithmetic), so the index is bit-identical.
    */
  private def randSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    randIndex(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === RandSeedOffset)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  def randIndex(vecs: DataFrame, centroidsA: DataFrame,
      centroidsB: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    def assign(cents: DataFrame, out: String): DataFrame = {
      val cent = cents.select(col("cid"), col("embedding").as("cemb"))
        .withColumn("cnrm", expr(s"${sparkNorm("cemb")}"))
      val c = vecs.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("ca"))
        .withColumn("cn", expr(s"${sparkNorm("ca")}"))
      assignCells(c, cent)
        .select(col("neighbor_id"), col("cid").as(out))
    }
    val cont = assign(centroidsA, "ca_cid")
      .join(assign(centroidsB, "cb_cid"), "neighbor_id")
      .groupBy(col("ca_cid"), col("cb_cid"))
      .agg(count(lit(1)).as("nij"))
    val m = cont.agg(
      expr("sum((nij * (nij - 1)) div 2)").as("sum_nij2"),
      sum(col("nij")).as("n_points"),
      countDistinct(col("ca_cid")).as("cells_a"),
      countDistinct(col("cb_cid")).as("cells_b"))
    val sa = cont.groupBy(col("ca_cid")).agg(sum(col("nij")).as("ai"))
      .agg(expr("sum((ai * (ai - 1)) div 2)").as("sum_ai2"))
    val sb = cont.groupBy(col("cb_cid")).agg(sum(col("nij")).as("bj"))
      .agg(expr("sum((bj * (bj - 1)) div 2)").as("sum_bj2"))
    m.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("n_points"), col("cells_a"), col("cells_b"),
        col("sum_nij2"), col("sum_ai2"), col("sum_bj2"),
        expr("""cast((((n_points * (n_points - 1)) div 2)
               |  + 2 * sum_nij2 - sum_ai2 - sum_bj2) * 1000000
               |  div ((n_points * (n_points - 1)) div 2) as bigint)"""
          .stripMargin).as("ri_fx"))
  }

  // ------------------------------------- centroid drift (s19)

  /** Per-centroid movement under one Lloyd step — the convergence
    * monitor an index-training loop reads between c01 iterations:
    * L2 drift (in MeanFx fixed point) and the largest single-dimension
    * shift per centroid. A near-zero drift means the index is trained;
    * one runaway centroid means a cell is absorbing a drifting cluster
    * and the index needs re-seeding. All deltas are exact integers
    * (mean_fx − round(init·fx)); the only float op is the final sqrt
    * over an exact integer sum, so the report is bit-identical.
    *
    * Scale: c01's assignment/re-estimation shuffle + a join against
    * the (centroid × dim)-sized init explode — nothing new touches the
    * corpus.
    */
  private def driftSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    centroidDrift(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  def centroidDrift(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val stepped = kmeansStep(vecs, centroids)
    val init = centroids
      .select(col("cid"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .select(col("cid"), col("dim").cast("long").as("dim"),
        expr(s"cast(round(x * $MeanFx) as bigint)").as("init_fx"))
    stepped.join(init, Seq("cid", "dim"))
      .select(col("cid"), col("n_members"),
        (col("mean_fx") - col("init_fx")).as("delta"))
      .groupBy(col("cid"))
      .agg(min(col("n_members")).as("n_members"),
        count(lit(1)).as("n_dims"),
        expr("cast(round(sqrt(cast(sum(delta * delta) as double))) as bigint)")
          .as("drift_fx"),
        max(abs(col("delta"))).as("max_dim_shift"))
  }

  private def driftOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, va, cid FROM (
       |  SELECT v.*, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC) AS arn
       |  FROM v, c) x WHERE arn = 1),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |px AS (SELECT cid, cast(i - 1 as bigint) AS dim,
       |    cast(round(va[i] * $MeanFx) as bigint) AS fx
       |  FROM asg, dims),
       |st AS (SELECT cid, dim, count(*) AS n_members,
       |    cast(sum(fx) as bigint) // count(*) AS mean_fx
       |  FROM px GROUP BY 1, 2),
       |ini AS (SELECT cid, cast(i - 1 as bigint) AS dim,
       |    cast(round(ca[i] * $MeanFx) as bigint) AS init_fx FROM c, dims),
       |dl AS (SELECT st.cid, n_members, mean_fx - init_fx AS delta
       |  FROM st JOIN ini ON st.cid = ini.cid AND st.dim = ini.dim)
       |SELECT cid, cast(min(n_members) as bigint) AS n_members,
       |  count(*) AS n_dims,
       |  cast(round(sqrt(cast(sum(delta * delta) as double))) as bigint)
       |    AS drift_fx,
       |  cast(max(abs(delta)) as bigint) AS max_dim_shift
       |FROM dl GROUP BY cid""".stripMargin

  private def randOracle: String = {
    def asg(filt: String, alias: String): String =
      s"""$alias AS (SELECT vec_id, cid FROM (
         |  SELECT v.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC)
         |      AS arn
         |  FROM v, (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
         |    WHERE $filt) c) x WHERE arn = 1)""".stripMargin
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |${asg(s"vec_id % $CentroidEvery = 0", "asga")},
       |${asg(s"vec_id % $CentroidEvery = $RandSeedOffset", "asgb")},
       |ct AS (SELECT a.cid AS ca, b.cid AS cb, count(*) AS nij
       |  FROM asga a JOIN asgb b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |m AS (SELECT cast(sum(nij * (nij - 1) // 2) as bigint) AS sum_nij2,
       |    cast(sum(nij) as bigint) AS n_points,
       |    cast(count(DISTINCT ca) as bigint) AS cells_a,
       |    cast(count(DISTINCT cb) as bigint) AS cells_b FROM ct),
       |ra AS (SELECT cast(sum(ai * (ai - 1) // 2) as bigint) AS sum_ai2
       |  FROM (SELECT sum(nij) AS ai FROM ct GROUP BY ca) z),
       |rb AS (SELECT cast(sum(bj * (bj - 1) // 2) as bigint) AS sum_bj2
       |  FROM (SELECT sum(nij) AS bj FROM ct GROUP BY cb) z)
       |SELECT n_points, cells_a, cells_b, sum_nij2, sum_ai2, sum_bj2,
       |  cast(((n_points * (n_points - 1) // 2)
       |    + 2 * sum_nij2 - sum_ai2 - sum_bj2) * 1000000
       |    // (n_points * (n_points - 1) // 2) as bigint) AS ri_fx
       |FROM m, ra, rb""".stripMargin
  }

  // --------------------------------------------- DBSCAN core/border (c11)

  /** c11 parameters: cosine-similarity epsilon ball and the classic
    * minPts density bar (neighborhood INCLUDING the point itself). The
    * panel is every 5th vector — the evaluation-panel idiom (s04/s16).
    * The epsilon graph is the banded sign-LSH contract (d06's idiom),
    * but with c11's OWN band family tuned for the LOW threshold:
    * 16 bands × 4 bits. Per-pair recall 1−(1−p^4)^16 with p = 1−θ/π:
    * ≈ 0.91 at cos 0.35 (= eps), 0.97 at 0.5, 0.997 at 0.7, ~1 at 0.9 —
    * vs ≈ 0.02 at eps under d06's 8×12 family (tuned for cos ≥ 0.9),
    * which would have made core/border roles banding artifacts.
    * MEASURED edge recall (EPS_GRAPH_SCALE_r11.json, synthetic corpus,
    * panel shape at 2k/4k/8k): 0.824–0.827, scale-stable — below the
    * per-pair figure because real eps edges concentrate just above the
    * threshold where per-pair recall is weakest; the same artifact
    * measures the old family at 0.089–0.095. The
    * honest cost, stated plainly: at eps this low, background pairs
    * collide too (≈ 64% of cos-0 pairs hit ≥1 band), so banding prunes
    * only a constant factor of the panel's pair mass — the SCALE
    * control is the panel itself: a bounded evaluation set that is now
    * genuinely bounded (round 12; the round-11 contract said "bounded"
    * while `vec_id % 5` was a PROPORTIONAL slice). The panel is the
    * `DbscanPanelCap` members of the `% DbscanPanelMod` audit slice
    * with the smallest deterministic LCG hash (vec_id tiebreak) — a
    * fixed-cardinality pseudo-random sample, so candidate mass is
    * O(cap²/bands·2^rowBits) CONSTANT as the corpus grows, and when
    * the slice is smaller than the cap (both gate scales) the panel
    * equals the whole slice, leaving gate results exactly as r11.
    * Banding keeps the join keyed on (band, bucket) rather than a
    * cartesian, and exact cosine is verified ONLY on candidates. A
    * full-corpus low-eps graph is not a thing this operator promises;
    * raise eps or widen the cap deliberately. The oracle mirrors the
    * 16×4 bucket assignment AND the capped sample (same LCG, same
    * ORDER BY/LIMIT) exactly, so the hash gate proves sampling,
    * banding, cosine filter, and role classification together.
    * PlanQualitySpec pins the physical plan: no CartesianProduct, no
    * BroadcastNestedLoopJoin, no mandatory broadcast.
    */
  private val DbscanEps = 0.35
  private val DbscanMinPts = 3
  private val DbscanPanelMod = 5
  private[graft] val DbscanPanelCap = 2000
  // Knuth's multiplicative constant; vec_id (non-negative by the table
  // contract) is reduced mod 1e6+3 first so the product stays far
  // inside Int64 on BOTH engines (DuckDB errors on bigint overflow
  // rather than wrapping). Identical text runs on Spark and DuckDB.
  // The trailing mod 2^31 is LOAD-BEARING (round-12 review): without
  // it, ORDER BY x*K sorts identically to ORDER BY x (multiplying by
  // a positive constant preserves order), so the "pseudo-random"
  // panel silently degenerated to the lowest-id prefix of the slice.
  // The mod folds the product's high bits into the order — verified:
  // on a 0,5,10,… slice the capped pick now spans the full id range
  // (mean ≈ midpoint), not the first 2000 ids.
  private[graft] val PanelHash =
    "(vec_id % 1000003) * 2654435761 % 2147483648"
  private[graft] val DbscanBands = 16
  private[graft] val DbscanRowBits = 4

  /** DBSCAN density roles over the embedding panel: `core` (>= minPts
    * points in the eps-ball incl. self), `border` (not core, but inside
    * a core point's ball), `noise` (neither). The epsilon graph is the
    * LSH-blocked near-dup relation from [[Similarity.embeddingNearDups]]
    * under the low-threshold 16×4 band family above (exact cosine on
    * candidates only), symmetrized; roles come from a degree count plus one semi-join of
    * the non-core side against core neighbors — no iteration, no
    * collect, no all-pairs join anywhere. The driver corpus's embeddings
    * are near-orthogonal random vectors, so the honest report is mostly
    * noise; the planted-cluster fixture in the spec proves all three
    * classes against an in-spec exact reference. */
  /** The bounded evaluation panel: the `DbscanPanelCap` smallest-hash
    * members of the `% DbscanPanelMod` audit slice (LCG hash, vec_id
    * tiebreak). TakeOrdered of cap ids + one semi-join — never a
    * global sort of the corpus; |panel| = min(|slice|, cap) by
    * construction (spec-pinned). */
  private[graft] def dbscanPanel(embeddings: DataFrame): DataFrame = {
    val slice = embeddings
      .filter(col("vec_id") % DbscanPanelMod === 0)
      .select(col("vec_id"), col("embedding"))
    val capIds = slice.select(col("vec_id"), expr(PanelHash).as("ph"))
      .orderBy(col("ph"), col("vec_id")).limit(DbscanPanelCap)
      .select(col("vec_id"))
    slice.join(capIds, Seq("vec_id"), "left_semi")
  }

  private def dbscanSpark(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // fixed-cardinality panel: the cap smallest LCG-hash members of the
    // audit slice (vec_id tiebreak) — a TakeOrdered of cap ids, then
    // the slice is re-filtered by semi-join; never a global sort of
    // the corpus and never more than cap rows on the driver side of
    // any stage
    val panel = dbscanPanel(Catalog.t(s, d, "embeddings"))
    // pinned, round 16: the eps-graph relation below feeds the degree
    // count AND the border semi-join, and `counted` feeds the core set
    // AND the final report — unpinned, the LSH candidate + verify
    // pipeline (the query's dominant cost) appeared FOUR times in one
    // physical plan (359 operators, the embeddings scan repeated 104×;
    // measured plan audit, plans/r16/c11_dbscan_core_before.txt).
    val pairs = Similarity.embeddingNearDups(panel, DbscanEps,
      bands = DbscanBands, rowBits = DbscanRowBits).localCheckpoint(true)
    // symmetrize with ONE scan (posexplode of both orientations) — the
    // union formulation scanned the pair relation once per leg
    val edges = pairs.select(explode(array(
        struct(col("vec_a").as("ia"), col("vec_b").as("ib")),
        struct(col("vec_b").as("ia"), col("vec_a").as("ib")))).as("e"))
      .select(col("e.ia").as("ia"), col("e.ib").as("ib"))
    val deg = edges.groupBy(col("ia").as("vec_id"))
      .agg(count(lit(1)).as("n_nb"))
    val counted = panel.select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_nb"))
      .localCheckpoint(true)
    val core = counted.filter(col("n_nb") + 1 >= DbscanMinPts)
      .select(col("vec_id").as("core_id"))
    val borderIds = edges
      .join(core, edges("ib") === core("core_id"))
      .select(col("ia").as("vec_id")).distinct()
      .withColumn("near_core", lit(1))
    counted.join(borderIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_nb").cast("long").as("n_nb"),
        when(col("n_nb") + 1 >= DbscanMinPts, "core")
          .when(col("near_core").isNotNull, "border")
          .otherwise("noise").as("role"))
  }

  private def dbscanOracle: String =
    s"""WITH sl AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va
       |  FROM embeddings WHERE vec_id % $DbscanPanelMod = 0),
       |cap AS (SELECT vec_id FROM sl
       |  ORDER BY $PanelHash, vec_id LIMIT $DbscanPanelCap),
       |p AS (SELECT sl.vec_id, sl.va FROM sl
       |  WHERE sl.vec_id IN (SELECT vec_id FROM cap)),
       |n AS (SELECT vec_id, va, ${duckNorm("va")} AS nn FROM p),
       |k AS (${Similarity.duckBandKeys(DbscanBands, DbscanRowBits)}),
       |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM k a JOIN k b USING (band, bk) WHERE a.vec_id < b.vec_id),
       |ef AS (SELECT ia, ib FROM cand
       |  JOIN n a ON a.vec_id = ia JOIN n b ON b.vec_id = ib
       |  WHERE ${duckDot("a.va", "b.va")} / (a.nn * b.nn) >= $DbscanEps),
       |e AS (SELECT ia, ib FROM ef UNION ALL SELECT ib AS ia, ia AS ib FROM ef),
       |deg AS (SELECT ia AS vec_id, count(*) AS c FROM e GROUP BY 1),
       |cnt AS (SELECT p.vec_id, cast(coalesce(deg.c, 0) as bigint) AS n_nb
       |  FROM p LEFT JOIN deg ON p.vec_id = deg.vec_id),
       |core AS (SELECT vec_id FROM cnt WHERE n_nb + 1 >= $DbscanMinPts),
       |brd AS (SELECT DISTINCT e.ia AS vec_id FROM e
       |  JOIN core ON e.ib = core.vec_id)
       |SELECT cnt.vec_id, cnt.n_nb,
       |  CASE WHEN cnt.n_nb + 1 >= $DbscanMinPts THEN 'core'
       |    WHEN brd.vec_id IS NOT NULL THEN 'border'
       |    ELSE 'noise' END AS role
       |FROM cnt LEFT JOIN brd ON cnt.vec_id = brd.vec_id""".stripMargin

  // ---------------------------- Calinski–Harabasz index (c13)

  /** c13: the variance-ratio criterion over the shared centroid model —
    * ONE row `(n_vecs, n_clusters, wss_fx, bss_fx, ch_index)` where
    * WSS is c08's cosine inertia of each point to its ASSIGNED
    * centroid, BSS is the member-weighted separation of each centroid
    * from the corpus's GLOBAL mean direction, and
    * `ch = (BSS/(k−1)) / (WSS/(n−k))` — higher = tighter, better-
    * separated clusters. The single-number sibling of c05 (per-cluster
    * silhouette) and c09 (worst-pair Davies–Bouldin): the one a sweep
    * ranks k/seed choices by.
    *
    * Exactness discipline (c01's MeanFx rule, extended to the global
    * mean): the global direction is the PER-DIM sum of fixed-point
    * longs (order-free integers); centroid↔global dot products and
    * norms accumulate in decimal(38,0) (hugeint oracle-side), so the
    * only float ops are the final per-centroid cosine and the one
    * closed-form division — both computed from identical exact
    * integers on both engines. `n_clusters` counts clusters WITH
    * members (an unassigned centroid contributes to neither sum).
    *
    * Scale: assignment is the one broadcast-centroid fold every
    * c-query shares; the global direction is one map-side-combinable
    * 64-key aggregate over the corpus; everything after runs on
    * ≤ |centroids| × dims rows.
    */
  private def chSpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    calinskiHarabasz(
      e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") % CentroidEvery === 0)
        .select(col("vec_id").as("cid"), col("embedding")))
  }

  def calinskiHarabasz(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val v = vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("vn", expr(s"${sparkNorm("va")}"))
    val c = centroids.select(col("cid"),
        col("embedding").cast("array<double>").as("ca"))
      .withColumn("cn", expr(s"${sparkNorm("ca")}"))
    val asg = v.crossJoin(broadcast(c))
      .withColumn("cos", expr(s"${sparkDot("va", "ca")} / (vn * cn)"))
      .withColumn("arn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("arn") === 1)
    val wss = asg.agg(
      sum(expr(s"cast(round((1 - cos) * $MeanFx) as bigint)")).as("wss_fx"),
      count(lit(1)).as("n_vecs"))
    val nj = asg.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    val g = v.select(posexplode(col("va")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(expr(s"cast(round(x * $MeanFx) as bigint)")).as("gfx"))
    val cd = c.select(col("cid"), posexplode(col("ca")).as(Seq("dim", "cx")))
      .withColumn("cfx", expr(s"cast(round(cx * $MeanFx) as bigint)"))
      .join(g, "dim")
      .groupBy(col("cid"))
      .agg(sum(expr("cast(cfx as decimal(38,0)) * gfx")).as("num2"),
        sum(expr("cast(gfx as decimal(38,0)) * gfx")).as("gg2"),
        sum(expr("cast(cfx as decimal(38,0)) * cfx")).as("cc2"))
      .withColumn("cosg", expr(
        "cast(num2 as double) / (sqrt(cast(cc2 as double))" +
          " * sqrt(cast(gg2 as double)))"))
    val bss = cd.join(nj, "cid")
      .agg(sum(expr(
          s"n_members * cast(round((1 - cosg) * $MeanFx) as bigint)"))
          .as("bss_fx"),
        count(lit(1)).as("n_clusters"))
    // degenerate shapes (one populated cluster, or k = n) have no CH
    // index: report NULL EXPLICITLY on both engines — without the
    // guard Spark's non-ANSI double division yields NULL while DuckDB
    // yields IEEE Infinity, a cross-engine divergence the gate would
    // hit the moment a fixture lands there (round-12 review)
    wss.crossJoin(bss)
      .select(col("n_vecs").cast("long").as("n_vecs"),
        col("n_clusters").cast("long").as("n_clusters"),
        col("wss_fx").cast("long").as("wss_fx"),
        col("bss_fx").cast("long").as("bss_fx"),
        expr("""CASE WHEN n_clusters <= 1 OR n_vecs <= n_clusters
               |  OR wss_fx = 0 THEN cast(NULL as double)
               |ELSE (cast(bss_fx as double) / (n_clusters - 1))
               |  / (cast(wss_fx as double) / (n_vecs - n_clusters))
               |END""".stripMargin).as("ch_index"))
  }

  private def chOracle: String =
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |asg AS (SELECT vec_id, cid, cos FROM (
       |  SELECT v.vec_id, c.cid,
       |    ${duckDot("va", "ca")} / (vn * cn) AS cos,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC)
       |      AS arn
       |  FROM v, c) x WHERE arn = 1),
       |w AS (SELECT cast(sum(cast(round((1 - cos) * $MeanFx) as bigint))
       |    as bigint) AS wss_fx, count(*) AS n_vecs FROM asg),
       |nj AS (SELECT cid, count(*) AS n_members FROM asg GROUP BY 1),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |g AS (SELECT i, cast(sum(cast(round(va[i] * $MeanFx) as bigint))
       |    as bigint) AS gfx
       |  FROM v, dims GROUP BY i),
       |cd AS (SELECT cid,
       |    sum(cast(cast(round(ca[g.i] * $MeanFx) as bigint) as hugeint)
       |      * gfx) AS num2,
       |    sum(cast(gfx as hugeint) * gfx) AS gg2,
       |    sum(cast(cast(round(ca[g.i] * $MeanFx) as bigint) as hugeint)
       |      * cast(round(ca[g.i] * $MeanFx) as bigint)) AS cc2
       |  FROM c, g GROUP BY cid),
       |cg AS (SELECT cid, cast(num2 as double)
       |    / (sqrt(cast(cc2 as double)) * sqrt(cast(gg2 as double)))
       |    AS cosg FROM cd),
       |b AS (SELECT cast(sum(n_members
       |      * cast(round((1 - cosg) * $MeanFx) as bigint)) as bigint)
       |    AS bss_fx, count(*) AS n_clusters
       |  FROM cg JOIN nj USING (cid))
       |SELECT cast(n_vecs as bigint) AS n_vecs,
       |  cast(n_clusters as bigint) AS n_clusters, wss_fx, bss_fx,
       |  CASE WHEN n_clusters <= 1 OR n_vecs <= n_clusters
       |      OR wss_fx = 0 THEN cast(NULL as double)
       |    ELSE (cast(bss_fx as double) / (n_clusters - 1))
       |      / (cast(wss_fx as double) / (n_vecs - n_clusters))
       |  END AS ch_index
       |FROM w, b""".stripMargin

  // ------------------------------------ split-half stability (c12)

  /** c12: SPLIT-HALF clustering stability — the sampling-sensitivity
    * audit c10's Rand index (seed sensitivity) does not cover: run
    * c01's Lloyd step independently on the two vec_id-parity halves of
    * the corpus (same shared seed set, disjoint data) and price how
    * far each centroid's half-sample means diverge. A centroid whose
    * halves disagree is fit to sampling noise, not structure — prune
    * decisions keyed on it (c-family curation) should not be trusted.
    * All arithmetic is c01's MeanFx fixed point (order-free integer
    * sums), so the report is bit-identical cross-engine. Per cid:
    * member counts of each half, L1 centroid displacement and the
    * worst single-dimension gap, both in MeanFx units, plus the
    * displacement normalized per dimension. Centroids with members in
    * only ONE half are definitionally unstable and are reported by
    * absence from the inner join — the spec pins that contract with a
    * planted one-sided cluster.
    *
    * Scale: two c01-shaped jobs (assignment = broadcast-centroid fold
    * over a corpus scan each; means = one map-side-combinable groupBy
    * on (cid, dim)) plus a join of two ≤ |cids|×dims relations —
    * nothing corpus-sized crosses a second shuffle.
    */
  private def stabilitySpark(s: SparkSession, d: String): DataFrame = {
    val e = Catalog.t(s, d, "embeddings")
    val cents = e.filter(col("vec_id") % CentroidEvery === 0)
      .select(col("vec_id").as("cid"), col("embedding"))
    def half(parity: Int) = kmeansStep(
      e.filter(col("vec_id") % 2 === parity)
        .select(col("vec_id"), col("embedding")), cents)
    val a = half(0).select(col("cid"), col("dim"),
      col("n_members").as("n_a"), col("mean_fx").as("fx_a"))
    val b = half(1).select(col("cid"), col("dim"),
      col("n_members").as("n_b"), col("mean_fx").as("fx_b"))
    a.join(b, Seq("cid", "dim"))
      .groupBy(col("cid"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(expr("abs(fx_a - fx_b)")).as("drift_l1_fx"),
        max(expr("abs(fx_a - fx_b)")).as("max_dim_gap_fx"),
        count(lit(1)).as("n_dims"))
      .select(col("cid"), col("n_a"), col("n_b"),
        col("drift_l1_fx"), col("max_dim_gap_fx"),
        expr("drift_l1_fx div n_dims").as("drift_per_dim_fx"))
  }

  private def stabilityOracle: String = {
    def halfCtes(parity: Int, tag: String): String =
      s"""asg$tag AS (SELECT vec_id, va, cid FROM (
         |  SELECT v.*, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${duckDot("va", "ca")} / (vn * cn) DESC, c.cid ASC)
         |      AS arn
         |  FROM v, c WHERE v.vec_id % 2 = $parity) x WHERE arn = 1),
         |m$tag AS (SELECT cid, cast(i - 1 as bigint) AS dim,
         |    count(*) AS n_$tag,
         |    cast(sum(cast(round(va[i] * $MeanFx) as bigint)) as bigint)
         |      // count(*) AS fx_$tag
         |  FROM asg$tag, dims GROUP BY cid, i)""".stripMargin
    s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va,
       |    ${duckNorm("cast(embedding AS DOUBLE[])")} AS vn
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, va AS ca, vn AS cn FROM v
       |  WHERE vec_id % $CentroidEvery = 0),
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |${halfCtes(0, "a")},
       |${halfCtes(1, "b")}
       |SELECT cid, cast(max(n_a) as bigint) AS n_a,
       |  cast(max(n_b) as bigint) AS n_b,
       |  cast(sum(abs(fx_a - fx_b)) as bigint) AS drift_l1_fx,
       |  cast(max(abs(fx_a - fx_b)) as bigint) AS max_dim_gap_fx,
       |  cast(sum(abs(fx_a - fx_b)) as bigint) // count(*)
       |    AS drift_per_dim_fx
       |FROM ma JOIN mb USING (cid, dim) GROUP BY cid""".stripMargin
  }
}
