package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats.{Actual, Severed}

import graft.Materialize

/** Reusable distributed graph algorithms over plain DataFrames — the
  * library surface behind the d08/g01 gate queries. Both take:
  *
  *  - `nodes`: one numeric `id` column (distinct);
  *  - `edges`: `src`/`dst` pairs of node ids (treated as UNDIRECTED —
  *    symmetrized internally, so pass each pair once).
  *
  * Scale design (the 100 TB story):
  *
  *  - **The edge list never re-shuffles.** Edges are symmetrized,
  *    hash-partitioned by `src` ONCE and cached; per-iteration state
  *    (ranks / labels) is explicitly repartitioned to the same layout,
  *    so every iteration's edge join satisfies its distribution
  *    requirement with NO Exchange on the (dominant) edge side. The
  *    only per-round shuffles are node-sized.
  *  - **Broadcast is an optimization, never a requirement.** When the
  *    node count is at most `broadcastMaxNodes`, the node-sized side is
  *    broadcast (fastest at small N). Above it — where a rank table
  *    outgrows any broadcast threshold — the co-partitioned path runs
  *    unchanged. Pass `broadcastMaxNodes = 0` to force the scale path.
  *  - **Each round is a pin.** Each round truncates lineage through
  *    [[graft.Materialize.Scope.pin]] with severed statistics (with
  *    `cache()` alone a self-referencing iteration doubles the analyzed
  *    logical plan every round and Catalyst analysis time grows
  *    exponentially; inherited estimates would square per round). A
  *    round's pin is released once the next round's pin exists or the
  *    call returns, unless the result reads it. Pins are
  *    executor-local unless the session sets
  *    [[graft.Materialize.GraphCheckpointDirConf]]: the fault-tolerant
  *    large-scale mode.
  */
object GraphAlgs {

  /** Wall-clock instrumentation of one [[connectedComponents]] run:
    * convergence round count and per-round seconds, returned by
    * [[connectedComponentsWithStats]] (the scale smokes read it to show
    * rounds grow O(log diameter) while per-round work stays
    * proportional to edges — the scale claim single-query benches
    * can't see), plus the physical path the loop took (`broadcast` or
    * `co-partitioned` label joins) and the edge layout's partition count.
    */
  final case class CcStats(rounds: Int, roundSecs: Seq[Double], path: String,
      partitions: Int)

  /** Nodes at or below which the node-sized side is broadcast. ~4M rows
    * of (long, long) ≈ 64 MB serialized — a conservative ceiling for
    * executor broadcast memory; far below it at test scale, far above
    * it at corpus scale.
    */
  val DefaultBroadcastMaxNodes: Long = 4L * 1000 * 1000

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Scale-adaptive partition count for the family's explicit
    * repartition+cache layouts (round 17, guide §2.2: derive
    * partitioning from input size, never a constant tuned to either
    * local mode or a cluster). The gate graphs are a few MB; laying
    * them out across `spark.sql.shuffle.partitions` tasks made every
    * loop stage pay parallelism it could not use — JobProfile measured
    * ~0.35 s/task of pure contention per iteration at local[32], and
    * the whole suite ran FASTER at 8 cores than 32 (the r16 driver's
    * scaling block). Deriving the count from the plan's `sizeInBytes`
    * statistic fixes that from the data: tiny graphs collapse to a few
    * partitions, while anything large (or statistically unknown —
    * severed stats report the session default, i.e. effectively
    * infinite) keeps the configured parallelism, so no behavior changes
    * at cluster scale. Pure layout: results are partitioning-invariant
    * by the family's integer-exact contract.
    */
  private[graft] val TargetPartitionBytes: Long = 32L * 1024 * 1024

  private[graft] def adaptiveP(df: DataFrame, conf: Int): Int = {
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz <= 0) conf
    else ((sz + TargetPartitionBytes - 1) / TargetPartitionBytes)
      .min(BigInt(conf)).max(BigInt(1)).toInt
  }

  /** Symmetrized edge list, hash-partitioned by `src` once and cached
    * in `m`. The explicit fixed-width repartition is load-bearing: AQE
    * never coalesces a user repartition, so the cached layout is
    * exactly `hash(src) % p` and iteration joins that bring the other
    * side in the same layout need no edge Exchange.
    */
  private def undirected(m: Materialize.Scope, edges: DataFrame,
      p: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    m.cache(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(p, col("src")))
  }

  /** Connected components by min-label propagation with a pointer-jump
    * step (`l(v) ← l(l(v))`), converging in O(log diameter) rounds
    * instead of O(diameter). Returns `(id, component)` where the
    * component id is the minimum node id of the component — canonical
    * and independent of partitioning. Labels only decrease, so
    * `sum(label)` is a monotone potential and one cheap aggregate per
    * round detects the fixpoint.
    */
  def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      maxRounds: Int = 40,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame =
    connectedComponentsWithStats(nodes, edges, maxRounds, broadcastMaxNodes)._1

  /** [[connectedComponents]] plus this run's [[CcStats]]. */
  private[graft] def connectedComponentsWithStats(
      nodes: DataFrame,
      edges: DataFrame,
      maxRounds: Int = 40,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): (DataFrame, CcStats) =
    Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(nodes))
    val e = undirected(m, edges, p)
    var labels = m.cache(nodes.select(col("id")).withColumn("label", col("id")))
    // one pass gets both the fixpoint potential and the broadcast gate
    def sumAndCount(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(sum(col("label")), lit(0L)), count(lit(1))).first()
      (r.getLong(0), r.getLong(1))
    }
    var (curSum, n) = sumAndCount(labels)
    val small = n <= broadcastMaxNodes
    var prevSum = Long.MaxValue
    var round = 0
    val roundSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (curSum != prevSum && round < maxRounds) {
      val tr = System.nanoTime()
      // (1) min label among self and neighbors. Small N: broadcast the
      // label table (no edge shuffle, no sort). Large N: co-partitioned
      // merge — labels arrive hash(id)%p, edges are cached hash(src)%p.
      val labelsIn =
        if (small) broadcast(labels) else labels.repartition(p, col("id"))
      val nbrMin = e.join(labelsIn, e("src") === labelsIn("id"))
        .groupBy(col("dst").as("nid")).agg(min(col("label")).as("nlabel"))
      val nbrIn = if (small) broadcast(nbrMin) else nbrMin
      val l1 = labels.join(nbrIn, labels("id") === nbrIn("nid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // (2) pointer jump: adopt the label of the current label (labels
      // are always node ids, so the self-join is total).
      //
      // Round 16 (guide §2.4 — remove materializations a round does not
      // need): the jump no longer gets its own checkpoint. On the
      // broadcast path l1 is CACHED and the jump rides the round's one
      // checkpoint job — the broadcast build of `ptr` executes l1 (one
      // edge join) and fills the cache, the probe side then reads it —
      // so each round stores ONE node-sized table instead of two and
      // runs one fewer job. On the co-partitioned (large-N) path the
      // two shuffle stages of the jump join would RACE to fill a lazy
      // cache and could execute the edge join twice, so that path keeps
      // the explicit per-step checkpoint — at that scale the extra
      // node-sized store is noise and determinism wins.
      // (Round 17 measured and REJECTED a pointer-composition variant —
      // ptr∘ptr, so each round adopts l(l(l(v))): on the gate graph the
      // convergence round count did NOT drop (7 both ways — min-label
      // flow through edge adjacency is the binding constraint, not
      // pointer depth) while each round paid one more node-sized join;
      // interleaved A/B: 4.43 vs 3.77 s warm on g12. Single jump kept.)
      val l1t = if (small) m.cache(l1) else m.pin(l1, Severed)
      val ptr = l1t.select(col("id").as("pid"), col("label").as("plabel"))
      val ptrIn = if (small) broadcast(ptr) else ptr
      val next = l1t.join(ptrIn, l1t("label") === ptrIn("pid"))
        .select(l1t("id"), least(l1t("label"), col("plabel")).as("label"))
      val nextT = m.pin(next, Severed)
      m.release(l1t)
      m.release(labels)
      prevSum = curSum
      curSum = sumAndCount(nextT)._1
      labels = nextT
      round += 1
      roundSecs += (System.nanoTime() - tr) / 1e9
    }
    if (curSum != prevSum)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    (labels.select(col("id"), col("label").as("component")),
      CcStats(round, roundSecs.toSeq,
        if (small) "broadcast" else "co-partitioned", p))
  }

  /** Multi-source BFS distances: hops from the nearest seed, breadth
    * by breadth, `-1` past `maxDepth` or unreachable. Each round joins
    * only the CURRENT frontier against the cached symmetric edges and
    * anti-joins the visited set — per-round work is proportional to the
    * frontier's edge neighborhood, never the graph, and the frontier is
    * broadcast while it fits. Returns `(id, dist)`.
    */
  def bfsLayers(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame = {
    // single-source-set BFS = the multi-source traversal with one
    // constant probe (round-13 review: the iteration machinery —
    // broadcast threshold, checkpoint rounds, visited anti-join — must
    // live in ONE place or a fix to it silently misses a traversal)
    val dist = multiSourceBfs(edges,
      seeds.select(lit(0L).as("probe"), col("id")), maxDepth,
      broadcastMaxNodes).drop("probe")
    nodes.select(col("id")).join(dist, Seq("id"), "left")
      .select(col("id"), coalesce(col("dist"), lit(-1)).as("dist"))
  }

  /** Multi-source BFS carrying per-probe distances: like [[bfsLayers]]
    * but the visited set is keyed `(probe, id)`, so ONE distributed
    * traversal advances every probe's wavefront together — the shape
    * centrality-from-probes needs (k separate BFS jobs would pay k
    * edge-scan schedules; this pays one per DEPTH, with all probes'
    * frontiers in the same keyed frame). `seeds` is `(probe, id)`;
    * returns `(probe, id, dist)` for reached nodes only (dist ≤
    * maxDepth). Frontier joins stay keyed on the node id; probe fanout
    * multiplies frontier rows by at most the probe-panel size, which is
    * bounded by contract (the caller caps the panel the c11 way).
    */
  def multiSourceBfs(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame = Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(edges))
    val e = undirected(m, edges, p)
    // Round 16 (guide §2.4): the visited set is a LAZY union of the
    // per-depth checkpointed frontier frames, never re-materialized.
    // The old shape re-checkpointed `dist.union(next)` every depth —
    // one extra job per depth that copied the ENTIRE visited set again,
    // O(Σ|visited|) total stores. Each per-depth leaf is already a
    // checkpointed RDD, so the union plan stays shallow (≤ maxDepth
    // leaves), the anti-join reads it as plain scans, and the only
    // per-depth materialization left is the new frontier itself.
    var dist = m.pin(
      seeds.select(col("probe"), col("id")).distinct()
        .withColumn("dist", lit(0)), Severed)
    var frontier = dist.select(col("probe"), col("id"))
    var frontierCount = frontier.count()
    var visitedCount = frontierCount
    var depth = 0
    while (depth < maxDepth && frontierCount > 0) {
      depth += 1
      val fIn =
        if (frontierCount <= broadcastMaxNodes) broadcast(frontier)
        else frontier.repartition(p, col("id"))
      val nbrs = e.join(fIn, e("src") === fIn("id"))
        .select(col("probe"), col("dst").as("id")).distinct()
      // the visited anti-join carries the family's EXPLICIT broadcast /
      // co-partition discipline (round 16 — found by the new
      // StatsInvarianceSpec, the g09 class in BFS: this was the one
      // loop join with no hint, so its strategy depended on whether the
      // truncation mode let checkpoint statistics leak through).
      // Visited cardinality is tracked exactly (Σ frontier counts).
      // Round 17 (r16 advice): unlike the family's other broadcasts
      // (one node-sized table per round), this one REBUILDS the whole
      // GROWING visited set every depth, and its rows carry probe
      // fan-out — so it gets a quarter of the node ceiling (~1M rows
      // ≈ 25 MB serialized), switching to the co-partitioned anti-join
      // well before the rebuild-per-depth cost or executor broadcast
      // memory can hurt. Results are join-strategy-invariant.
      val vIn =
        if (visitedCount <= broadcastMaxNodes / 4) broadcast(dist)
        else dist.repartition(p, col("probe"), col("id"))
      val next = m.pin(
        nbrs.join(vIn, Seq("probe", "id"), "left_anti")
          .withColumn("dist", lit(depth)), Severed)
      frontierCount = next.count()
      visitedCount += frontierCount
      dist = dist.union(next)
      frontier = next.select(col("probe"), col("id"))
    }
    dist
  }

  /** Integer-exact PageRank: fixed-point arithmetic (`scale`, damping
    * 85/100, floor division) makes a fixed iteration count bit-identical
    * under any partitioning or summation order. Dangling mass is not
    * redistributed (isolated nodes keep the base rank). Returns
    * `(id, rank)` with rank on the integer scale.
    */
  def pageRank(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int = 5,
      scale: Long = 1000000000000L,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame =
    // uniform PageRank IS the personalized walk with every node in the
    // seed set (init = scale/n, restart mass everywhere): one loop owns
    // the iteration machinery (round-13 lesson — see multiSourceBfs)
    personalizedPageRank(nodes, edges, nodes, iters, scale,
      broadcastMaxNodes)

  /** Personalized PageRank: the random walk restarts only into `seeds`
    * (uniformly over them), so rank measures proximity to the seed set
    * rather than global centrality — the relevance-propagation shape
    * (seed-anchored data selection, retrieval expansion). Same
    * integer-exact contract as [[pageRank]]: fixed iterations,
    * damping 85/100, floor division, dangling mass not redistributed.
    * Non-seed nodes unreachable from any seed keep rank 0. Returns
    * `(id, rank)`; all ranks 0 when `seeds` is empty.
    */
  def personalizedPageRank(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 5,
      scale: Long = 1000000000000L,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame = Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(nodes))
    // cached: the edge set appears on BOTH sides of the deg bake-in join
    // below — uncached it would evaluate its lineage twice
    val e = undirected(m, edges, p)
    val deg = e.groupBy(col("src").as("dnode")).agg(count(lit(1)).as("deg"))
    // degree is loop-invariant: bake it onto the edge list ONCE (and
    // keep the hash(src)%p layout) so each iteration is one edge join
    // with no edge-side Exchange + a partial-agg shuffle
    val edgesWithDeg = m.cache(e.join(deg, col("src") === col("dnode"))
      .select(col("src"), col("dst"), col("deg"))
      .repartition(p, col("src")))
    // seed membership is loop-invariant too: bake it onto the node
    // table once — init mass and restart (base) mass are per-node
    // constants of the loop. The uniform call (pageRank delegates with
    // `seeds eq nodes`) skips the membership join and the second count
    // entirely: the seed column is a literal Catalyst folds away, so
    // g01 keeps its pre-delegation setup shape.
    val uniform = seeds eq nodes
    val n0 = m.cache((if (uniform)
        nodes.select(col("id")).withColumn("seed", lit(true))
      else {
        val sd = seeds.select(col("id")).distinct()
          .withColumn("isSeed", lit(true))
        nodes.select(col("id"))
          .join(sd, Seq("id"), "left")
          .select(col("id"), coalesce(col("isSeed"), lit(false)).as("seed"))
      }).repartition(p, col("id")))
    val n = n0.count()
    val ns =
      if (n == 0) 0L
      else if (uniform) n
      else n0.filter(col("seed")).count()
    // empty graph or seed set: zero mass (and no div by 0)
    if (ns == 0) m.pin(n0.select(col("id"), lit(0L).as("rank")), Severed)
    else {
      val small = n <= broadcastMaxNodes
      val init = scale / ns
      val base = (15L * init) / 100L
      val baseCol = when(col("seed"), lit(base)).otherwise(lit(0L))
      var pr = n0.select(col("id"),
        when(col("seed"), lit(init)).otherwise(lit(0L)).as("val"))
      for (it <- 1 to iters) {
        // Small N: broadcast the rank table (checkpointed RDDs carry no
        // stats, so without the hint Spark would shuffle the edge list).
        // Large N: ranks repartition to the edge layout — node-sized
        // Exchange, edge side untouched. Never a mandatory broadcast.
        val prIn =
          if (small) broadcast(pr) else pr.repartition(p, col("id"))
        val contrib = prIn
          .join(edgesWithDeg, prIn("id") === edgesWithDeg("src"))
          .groupBy(col("dst"))
          .agg(sum(expr("val div deg")).as("msum"))
        val contribIn =
          if (small) broadcast(contrib) else contrib.repartition(p, col("dst"))
        val next = n0.join(contribIn, n0("id") === contribIn("dst"), "left")
          .select(n0("id"),
            (baseCol + expr("(85 * coalesce(msum, 0L)) div 100")).as("val"))
        val prev = pr
        pr = m.pin(next, Severed)
        if (it > 1) m.release(prev)
      }
      pr.select(col("id"), col("val").as("rank"))
    }
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its neighbors (count desc, label asc — fully
    * deterministic), keeping its current label when isolated. A FIXED
    * round count (not convergence) keeps results reproducible and lets
    * an exact SQL oracle unroll the rounds. Returns `(id, label)`.
    *
    * Scale: same contract as the other iterative algorithms — edges are
    * cached `hash(src) % p` once; per round the label table (node-sized)
    * repartitions to that layout, and the per-neighbor argmax is a
    * two-level keyed aggregation (`(dst, label)` counts, then a
    * `max(struct(cnt, -label))` per dst) — no window, no broadcast
    * requirement, edge side never re-shuffles.
    */
  def labelPropagation(
      nodes: DataFrame,
      edges: DataFrame,
      rounds: Int = 2,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame = Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(nodes))
    val e = undirected(m, edges, p)
    val n0 = m.cache(nodes.select(col("id")).repartition(p, col("id")))
    val small = n0.count() <= broadcastMaxNodes
    var labels = n0.withColumn("label", col("id"))
    for (r <- 1 to rounds) {
      val labelsIn =
        if (small) broadcast(labels) else labels.repartition(p, col("id"))
      // most frequent neighbor label; max(struct) keeps the argmax
      // inside a partial-aggregable shuffle (ids are non-negative, so
      // -label orders ties toward the SMALLEST label)
      val best = e.join(labelsIn, e("src") === labelsIn("id"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst"), (-col("m.nl")).as("nlabel"))
      val bestIn = if (small) broadcast(best) else best
      val prev = labels
      labels = m.pin(
        labels.join(bestIn, labels("id") === bestIn("dst"), "left")
          .select(col("id"), coalesce(col("nlabel"), col("label")).as("label")),
        Severed)
      if (r > 1) m.release(prev)
    }
    labels
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * undirected graph. Edges are oriented low→high by `(degree, id)`
    * (the classic O(m^1.5) bound: every oriented out-degree is
    * O(sqrt(m)), so the wedge join never explodes on skewed hubs);
    * each triangle is found exactly once at its lowest-order corner and
    * credited to all three nodes. Returns `(id, degree, n_triangles,
    * lcc)` with `lcc = 2T / (d(d-1))` (0 when degree < 2).
    *
    * Scale: two keyed self-joins on the oriented edge list — never
    * all-pairs; counts are exact integers, lcc a single IEEE division.
    */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame =
    Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(nodes))
    val e = undirected(m, edges, p)
    // deg and o are each consumed by MULTIPLE downstream joins that the
    // caller materializes after this method returns — eager pins (not
    // lazy caches) so the upstream caches can be released here without
    // the final plan recomputing them per use
    val deg = m.pin(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      Actual)
    // orient each undirected pair from lower (deg, id) to higher: keep
    // one direction of the symmetrized list, comparing endpoint ranks
    val da = deg.select(col("node").as("src"), col("deg").as("dsrc"))
    val db = deg.select(col("node").as("dst"), col("deg").as("ddst"))
    val o = m.pin(e.join(da, "src").join(db, "dst")
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .repartition(p, col("src")), Actual)
    // wedges at u: (u→v, u→w); triangle iff v→w is also oriented
    val e1 = o.select(col("src").as("u"), col("dst").as("v"))
    val e2 = o.select(col("src").as("u"), col("dst").as("w"))
    val e3 = o.select(col("src").as("v"), col("dst").as("w"))
    val tri = e1.join(e2, "u").filter(col("v") =!= col("w"))
      .join(e3, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    val out = nodes.select(col("id"))
      .join(deg.select(col("node").as("id"), col("deg")), Seq("id"), "left")
      .join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc", expr(
        "CASE WHEN degree < 2 THEN cast(0 as double) " +
          "ELSE cast(2 * n_triangles as double) / cast(degree * (degree - 1) as double) END"))
    out
  }

  /** Per-EDGE triangle support — the k-truss currency: an edge's
    * support is the number of triangles containing it, and the k-truss
    * is the maximal subgraph where every edge has support ≥ k−2. This
    * is the single-pass support computation plus the k-threshold
    * classification (`in_truss`) — the first peel of the iterative
    * truss decomposition, and the edge-level sibling of
    * [[triangleCounts]]' vertex report: a dedup pipeline reads it to
    * split STRUCTURAL clique edges (high support — safe to collapse
    * the family) from bridge/chain edges (support 0 — the edges
    * transitive closure over-merges through).
    *
    * Scale: identical currency to [[triangleCounts]] — degree-ordered
    * orientation, wedge join bounded by Σ deg(v)², each triangle
    * enumerated exactly once, then ONE map-side-combinable groupBy on
    * the canonical (min-id, max-id) edge key. No iteration, no
    * collect; callers pass a degree-bounded subgraph exactly as
    * triangle counting does.
    */
  def edgeTriangleSupport(edges: DataFrame, minSupport: Int,
      pOverride: Option[Int] = None): DataFrame = Materialize.scoped { m =>
    // pOverride (round 17): trussDecomposition's per-round survivor set
    // is a severed-stats checkpoint (sizeInBytes = session default), so
    // the statistic-derived count cannot see how small it is — but the
    // caller tracks the exact edge count per round and passes the
    // matching layout width down.
    val p = pOverride.getOrElse(adaptiveP(edges, shufflePartitions(edges)))
    val e = undirected(m, edges, p)
    val deg = m.pin(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      Actual)
    val da = deg.select(col("node").as("src"), col("deg").as("dsrc"))
    val db = deg.select(col("node").as("dst"), col("deg").as("ddst"))
    val o = m.pin(e.join(da, "src").join(db, "dst")
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .repartition(p, col("src")), Actual)
    val e1 = o.select(col("src").as("u"), col("dst").as("v"))
    val e2 = o.select(col("src").as("u"), col("dst").as("w"))
    val e3 = o.select(col("src").as("v"), col("dst").as("w"))
    // each triangle appears once: of the two wedge orders (v,w)/(w,v),
    // only the one matching the oriented closing edge survives the join
    val tri = e1.join(e2, "u").filter(col("v") =!= col("w"))
      .join(e3, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val support = tri.select(explode(array(
        struct(least(col("u"), col("v")).as("ea"),
          greatest(col("u"), col("v")).as("eb")),
        struct(least(col("u"), col("w")).as("ea"),
          greatest(col("u"), col("w")).as("eb")),
        struct(least(col("v"), col("w")).as("ea"),
          greatest(col("v"), col("w")).as("eb")))).as("ed"))
      .select(col("ed.ea").as("ea"), col("ed.eb").as("eb"))
      .groupBy(col("ea"), col("eb")).agg(count(lit(1)).as("support"))
    // canonical edges straight from the INPUT (min-id, max-id): the
    // symmetrized cache `e` is not a dependency of the returned plan,
    // so its release at scope exit cannot force a recompute of the union
    val canon = edges.select(least(col("src"), col("dst")).as("ea"),
      greatest(col("src"), col("dst")).as("eb")).distinct()
    val out = canon.join(support, Seq("ea", "eb"), "left")
      .select(col("ea").as("src"), col("eb").as("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
      .withColumn("in_truss", col("support") >= minSupport)
    out
  }

  /** FULL k-truss decomposition — the fixpoint iteration g13's single
    * support pass is the first peel of: for k = 3, 4, … peel the
    * (k−1)-truss at threshold k−2 (recompute support on the surviving
    * subgraph, drop under-threshold edges, repeat until stable), and
    * report per canonical edge its TRUSSNESS — the largest k whose
    * k-truss contains it (2 for edges in no triangle). The dedup-graph
    * reading: trussness stratifies collapse confidence — a family's
    * clique interior (high trussness) survives aggressive merging,
    * trussness-2 bridges are exactly the edges transitive closure
    * over-merges through, and intermediate shells grade the boundary.
    *
    * Scale: each peel round is [[edgeTriangleSupport]]'s bounded
    * Σ deg(v)² wedge join on a MONOTONICALLY SHRINKING subgraph — no
    * all-pairs anywhere; round lineage is checkpoint-truncated exactly
    * like [[connectedComponents]] (local by default, reliable via
    * the session conf). Total rounds are bounded by max trussness plus
    * the number of non-trivial cascades (each batch round removes ALL
    * under-threshold edges at once — the standard batched peel;
    * measured on the gate graph: 14 rounds to full decomposition at
    * sf0.01). The only driver-side values are per-round edge COUNTS —
    * until the survivor set fits `localMaxEdges`, at which point the
    * remaining levels finish in ONE bounded driver-local peel (the
    * monotone shrink guarantees the set never grows back): tens of
    * sub-second in-memory rounds instead of tens of multi-second
    * cluster rounds on a subgraph that no longer needs a cluster.
    * 200k edges ≈ 3 MB of longs — the same bounded-collect budget the
    * centroid/codebook folds use; at 100 TB the distributed peel runs
    * exactly until the peel itself has shrunk the problem under that
    * line. Results are identical either way (spec-pinned: the local
    * and forced-distributed paths agree edge-for-edge).
    * `maxK` caps the ladder for the oracle's sake; edges still alive
    * at `maxK` report trussness `maxK` (the gate spec asserts the cap
    * is non-binding on the gate graph, so this is margin, not a lie).
    */
  val LocalPeelMaxEdges: Int = 200000

  def trussDecomposition(edges: DataFrame, maxK: Int,
      localMaxEdges: Int = LocalPeelMaxEdges): DataFrame = Materialize.scoped { m =>
    require(maxK >= 3, "truss decomposition needs maxK >= 3")
    val spark = edges.sparkSession
    val canon = edges.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst")).distinct()
    var cur = m.pin(canon, Severed)
    var curN = cur.count()
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 3
    var rounds = 0
    val confP = shufflePartitions(edges)
    while (k <= maxK && curN > 0 && curN > localMaxEdges) {
      var stable = false
      while (!stable && curN > 0 && curN > localMaxEdges) {
        // size the round's layout from the EXACT survivor count (the
        // checkpoint's severed stats cannot): ~48 B per symmetrized
        // canonical edge, same 32 MB/partition target as adaptiveP
        val pRound = ((curN * 48 + TargetPartitionBytes - 1) /
          TargetPartitionBytes).min(confP).max(1).toInt
        val keep = m.pin(
          edgeTriangleSupport(cur, k - 2, Some(pRound))
            .filter(col("in_truss"))
            .select(col("src"), col("dst")), Severed)
        val keepN = keep.count()
        rounds += 1
        stable = keepN == curN
        cur = keep
        curN = keepN
      }
      // a level completed distributed only if it reached its fixpoint
      // ABOVE the local threshold; a mid-level threshold crossing hands
      // the level to the local peel at the same k
      if (stable && curN > 0) { levels += cur.select(col("src"),
        col("dst"), lit(k).as("k")); k += 1 }
    }
    if (curN > 0 && curN <= localMaxEdges) {
      // bounded local finish: peel levels k..maxK in memory. The floor
      // is k-1 only when level k-1's fixpoint completed; entering mid-
      // level (or at the start, k=3) the floor is the default 2 handled
      // by the final coalesce, so the local result only OVERRIDES via
      // max() where it proved a level.
      import spark.implicits._
      val collected = cur.select(col("src"), col("dst"))
        .as[(Long, Long)].collect()
      val local = localPeel(collected, k, maxK)
      val rowsLocal = local.toSeq.collect {
        case ((a, b), t) if t >= 3 => (a, b, t)
      }
      if (rowsLocal.nonEmpty)
        levels += rowsLocal.toDF("src", "dst", "k")
    }
    val tn =
      if (levels.isEmpty)
        canon.limit(0).select(col("src"), col("dst"),
          lit(2L).as("trussness"))
      else levels.reduce(_ unionAll _)
        .groupBy(col("src"), col("dst"))
        .agg(max(col("k")).cast("long").as("trussness"))
    canon.join(tn, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("trussness"), lit(2L)).as("trussness"))
  }

  /** In-memory peel over a bounded edge set: for every input edge, the
    * max k in [startK, maxK] whose k-truss contains it, or startK−1 if
    * it falls at startK (the caller maps that floor to its completed
    * levels / the default 2). Classic incremental peel: support is
    * computed ONCE by wedge counting, then maintained by decrement as
    * edges peel (a removal touches only its own triangles), with a
    * work queue per level — total work O(#triangles), not
    * rounds × E × deg like a naive recompute-per-pass (measured: the
    * sf0.1 graph, 44k edges, took 69 full passes ≈ 9 s recomputed vs
    * <0.5 s incremental). Trussness is peel-order-independent (the
    * k-truss is unique), so this matches the distributed batched
    * rounds edge-for-edge — spec-pinned. */
  private def localPeel(edges0: Array[(Long, Long)], startK: Int,
      maxK: Int): Map[(Long, Long), Int] = {
    import scala.collection.mutable
    def canonE(a: Long, b: Long): (Long, Long) =
      if (a < b) (a, b) else (b, a)
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges0.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty[Long]) += b
      adj.getOrElseUpdate(b, mutable.Set.empty[Long]) += a
    }
    val sup = mutable.Map.empty[(Long, Long), Int]
    edges0.foreach { case (a, b) =>
      val (sa, sb) = if (adj(a).size <= adj(b).size) (a, b) else (b, a)
      sup(canonE(a, b)) = adj(sa).count(w => w != sb && adj(sb)(w))
    }
    val alive = mutable.Set(edges0.map { case (a, b) => canonE(a, b) }: _*)
    val tn = mutable.Map.empty[(Long, Long), Int]
    alive.foreach(e => tn(e) = startK - 1)
    var k = startK
    while (k <= maxK && alive.nonEmpty) {
      val th = k - 2
      val queue = mutable.ArrayDeque.from(alive.filter(sup(_) < th))
      while (queue.nonEmpty) {
        val e = queue.removeHead()
        if (alive.remove(e)) {
          val (a, b) = e
          val (sa, sb) =
            if (adj(a).size <= adj(b).size) (a, b) else (b, a)
          adj(sa).foreach { w =>
            if (w != sb && adj(sb)(w)) {
              val e1 = canonE(a, w); val e2 = canonE(b, w)
              sup(e1) -= 1
              if (sup(e1) < th && alive(e1)) queue += e1
              sup(e2) -= 1
              if (sup(e2) < th && alive(e2)) queue += e2
            }
          }
          adj(a) -= b; adj(b) -= a
        }
      }
      alive.foreach(e => tn(e) = k)
      k += 1
    }
    tn.toMap
  }

  /** Two-hop reach (friend-of-friend audit): for every node, how many
    * DISTINCT nodes sit at graph distance exactly 2 — reachable through
    * a neighbor, not the node itself, and not directly adjacent. The
    * expansion report a dedup pipeline reads next to the degree: a
    * near-dup family whose two-hop shell dwarfs its degree is a chain
    * (transitive closure will over-merge); one whose shell is empty is
    * a clique (safe to collapse).
    *
    * Scale: the wedge enumeration is [[triangleCounts]]' bounded
    * self-join keyed on the middle vertex — Σ deg(v)² work, never
    * all-pairs — then a distinct on (u, w) and a left-anti against the
    * adjacency. Callers pass a degree-bounded subgraph (the tight
    * hamming cut) exactly as triangle counting does.
    */
  def twoHopReach(nodes: DataFrame, edges: DataFrame): DataFrame =
    Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(nodes))
    val e = undirected(m, edges, p)
    val deg = m.pin(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      Actual)
    val ab = e.select(col("src").as("u"), col("dst").as("v"))
    val bc = e.select(col("src").as("v"), col("dst").as("w"))
    val wed = ab.join(bc, "v").filter(col("w") =!= col("u"))
      .select(col("u"), col("w")).distinct()
    val adj = e.select(col("src").as("u"), col("dst").as("w"))
    // node-sized; materialized eagerly so the returned plan reads no
    // edge cache
    val reach = m.pin(wed.join(adj, Seq("u", "w"), "left_anti")
      .groupBy(col("u")).agg(count(lit(1)).as("two_hop")), Actual)
    nodes.select(col("id"))
      .join(deg.select(col("node").as("id"), col("deg")), Seq("id"), "left")
      .join(reach.select(col("u").as("id"), col("two_hop")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("two_hop"), lit(0L)).as("two_hop"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair with
    * at least `minCommon` shared neighbors, the common-neighbor count
    * and the Jaccard similarity of the two neighbor sets
    * (`cn / (deg(u) + deg(w) - cn)` — the endpoints are non-adjacent, so
    * neither is in the other's neighbor set).
    *
    * Scale: the wedge enumeration is the SAME bounded self-join shape as
    * [[triangleCounts]] — one join keyed on the wedge center, then a
    * keyed count on the (u, w) pair; never an all-pairs product. Run it
    * on a degree-bounded subgraph (the callers pass the tight
    * hamming-filtered edge set) exactly as triangle counting does: a
    * hub of degree h contributes O(h²) wedges and no algorithm that
    * must SEE those candidate pairs avoids enumerating them.
    * Already-adjacent pairs leave via one anti-join.
    */
  def linkPrediction(edges: DataFrame, minCommon: Int): DataFrame =
    Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(edges))
    val e = undirected(m, edges, p)
    val deg = m.pin(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      Actual)
    // wedges centered at v: (v→u, v→w) with u < w — each unordered
    // candidate pair surfaces once per shared neighbor
    val eu = e.select(col("src").as("v"), col("dst").as("u"))
    val ew = e.select(col("src").as("v"), col("dst").as("w"))
    val cn = eu.join(ew, "v").filter(col("u") < col("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    val adj = e.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("w"))
    // the wedge count and the adjacency anti-join are the two consumers
    // of the cached edge list: materialize their composition eagerly
    // while the cache lives, or the returned lazy plan recomputes the
    // symmetrize+repartition for each of its three e-scans
    val nonAdj = m.pin(cn.join(adj, Seq("u", "w"), "left_anti"), Actual)
    nonAdj
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
      .select(col("u"), col("w"), col("cn").as("common_neighbors"),
        expr("cast(cn as double) / cast(du + dw - cn as double)")
          .as("jaccard"))
  }

  /** Newman modularity of a community assignment, reported PER
    * community: member count, intra-edge count, degree mass, and the
    * community's additive contribution to Q
    * (`(2m·2L_c − D_c²) / (2m)²` — their sum IS the modularity). The
    * evaluation operator for whatever clustering the pipeline produced
    * (LPA, components, semantic clusters): positive-contribution
    * communities are denser than chance, ~zero ones are noise.
    *
    * Exactness: all masses are int64 counts; the per-community products
    * run in decimal(38,0) (int128 oracle-side) like [[degreeProfile]],
    * so the single double division per community is the only float op.
    * Scale: one degree count, one two-sided label join on the
    * partitioned edge list, one broadcast 1-row edge total — no
    * all-pairs, no window.
    */
  /** k-core peeling profile: `rounds` fixed iterations of "drop every
    * node whose degree WITHIN the remaining subgraph is < k", reporting
    * per round how many nodes fell and how many survive. The density
    * audit that separates core template mass from peelable fringe — and
    * the fixed round count (like LPA's) keeps the result reproducible
    * and the SQL oracle exactly unrollable, instead of depending on a
    * convergence test. Scale shape: the symmetrized edge list is
    * hash-partitioned once and cached; each round is two keyed
    * semi-joins against the shrinking node set plus one degree
    * aggregate — work decreases monotonically as nodes peel. The only
    * driver-side values are the per-round COUNTS (bounded by `rounds`),
    * never node data.
    *
    * The node side follows the family's EXPLICIT broadcast/co-partition
    * discipline (round-15 find: this was the one loop leaning on
    * stats-based auto-broadcast for its semi-joins, which worked only
    * by the accident that checkpoints inherited origin statistics —
    * the severed-stats truncation exposed it as a 1.66× regression,
    * caught by the quiet-bench flag + TimeQ A/B protocol).
    */
  def kCorePeelProfile(
      nodes: DataFrame,
      edges: DataFrame,
      k: Int,
      rounds: Int,
      broadcastMaxNodes: Long = DefaultBroadcastMaxNodes): DataFrame = Materialize.scoped { m =>
    require(k >= 1 && rounds >= 1, "k-core peel needs k >= 1, rounds >= 1")
    val spark = nodes.sparkSession
    val p = adaptiveP(edges, shufflePartitions(nodes))
    val e = undirected(m, edges, p)
    var remaining = m.pin(nodes.select(col("id")).distinct(), Severed)
    var nRem = remaining.count()
    val profile = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var r = 0
    while (r < rounds) {
      r += 1
      // node-sized sides: broadcast while they fit, co-partition past
      // that (the edge list keeps its cached hash(src)%p layout; the
      // dst-keyed semi pays the one honest edge shuffle at scale).
      // `small` re-evaluates PER ROUND from nRem (round-16, from the
      // r15 advice): the remaining set only shrinks, so a graph that
      // starts above the broadcast ceiling switches to broadcasts the
      // round its core peels under it, instead of paying co-partition
      // shuffles for the rest of the loop on a tiny survivor set.
      val small = nRem <= broadcastMaxNodes
      val remSrc = remaining.select(col("id").as("src"))
      val remDst = remaining.select(col("id").as("dst"))
      val (srcIn, dstIn) =
        if (small) (broadcast(remSrc), broadcast(remDst))
        else (remSrc.repartition(p, col("src")), remDst)
      val deg = e
        .join(srcIn, Seq("src"), "left_semi")
        .join(dstIn, Seq("dst"), "left_semi")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val degIn = if (small) broadcast(deg) else deg
      val next = m.pin(
        remaining.join(degIn, Seq("id"), "left")
          .filter(coalesce(col("deg"), lit(0L)) >= k)
          .select(col("id")), Severed)
      m.release(remaining)
      val nNext = next.count()
      profile += ((r, nRem - nNext, nNext))
      remaining = next
      nRem = nNext
    }
    import spark.implicits._
    profile.toSeq.toDF("round", "n_removed", "n_remaining")
  }

  def modularity(labels: DataFrame, edges: DataFrame): DataFrame =
    Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(edges))
    val e = undirected(m, edges, p)
    val deg = m.pin(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      Actual)
    val com = labels.select(col("id"), col("community"))
    // intra is the one OTHER consumer of the cached edge list;
    // materialize it eagerly (|communities| rows) while the cache
    // lives: the returned lazy plan must not reference it, or the
    // consumer recomputes the symmetrize+repartition of the whole edge
    // list after the scope releases it.
    // Round 17: m2 (the symmetrized edge count) is Σ deg — derive it
    // from the already-checkpointed node-sized degree table instead of
    // a third full scan of the cached edge list plus its own eager
    // job (guide §2.4: remove passes the data does not need). Exact:
    // every symmetrized row contributes 1 to exactly one node's degree.
    // coalesce keeps the empty-graph value identical to count(*)'s 0.
    val m2 = deg.agg(coalesce(sum(col("deg")), lit(0L)).as("m2"))
    val intra = m.pin(e
      .join(com.select(col("id").as("src"), col("community").as("ca")), "src")
      .join(com.select(col("id").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra2")),
      Actual)
    val dc = com.join(deg, com("id") === deg("node"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("deg"), lit(0L))).as("degree_sum"))
    dc.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_members"),
        expr("coalesce(intra2, cast(0 as bigint)) div 2").as("intra_edges"),
        col("degree_sum"),
        expr("""cast(cast(m2 as decimal(38,0)) * coalesce(intra2, 0)
               |    - cast(degree_sum as decimal(38,0)) * degree_sum as double)
               |  / cast(cast(m2 as decimal(38,0)) * m2 as double)"""
          .stripMargin).as("contribution"))
  }

  /** Global degree profile of an undirected graph: node/edge counts,
    * max and mean degree, and degree assortativity (Pearson correlation
    * of endpoint degrees over the directed edge list — Newman 2002).
    * Returns ONE row `(n_nodes, n_edges, max_degree, mean_degree,
    * assortativity)`.
    *
    * All moments (Σdx, Σdxdy, Σdx², …) accumulate as exact int64
    * (envelope: Σdx² ≤ |E|·maxdeg², exact to ~9.2e18 — e.g. 1e10 edges
    * at max degree 3e4); the Pearson PRODUCTS of those moments reach
    * ~8.5e37 worst-case and therefore run in decimal(38,0) (int128 on
    * the oracle side) — a clique-heavy graph overflows n·Σdx² in int64
    * already at sf0.1. Everything stays an exact integer up to the
    * final two sqrt/divides, so the correlation is reproducible
    * regardless of partial-aggregation order. A regular
    * graph (zero degree variance) reports assortativity 0 by
    * convention rather than 0/0.
    *
    * Scale: one shuffle to build degrees, one broadcast-sized join back
    * onto the partitioned edge list (degree tables are |V| rows, tiny
    * relative to |E|), then a single-row global aggregate — map-side
    * partials do almost all the work.
    */
  def degreeProfile(edges: DataFrame): DataFrame = Materialize.scoped { m =>
    val p = adaptiveP(edges, shufflePartitions(edges))
    val e = undirected(m, edges, p)
    val deg = m.pin(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      Actual)
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"), max(col("deg")).as("max_degree"),
      sum(col("deg")).as("sum_deg"))
    // one row; materialized eagerly so the edge list's last consumer
    // runs before the scope releases it
    val moments = m.pin(e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy")), Actual)
    val out = nodeStats.crossJoin(moments).select(
      col("n_nodes"),
      expr("sum_deg div 2").as("n_edges"),
      col("max_degree"),
      expr("cast(sum_deg as double) / cast(n_nodes as double)")
        .as("mean_degree"),
      // products of two int64 moments reach ~8.5e37 worst-case — always
      // representable in decimal(38,0), never in int64 (a clique-heavy
      // graph overflows n*sxx already at sf0.1); DuckDB mirrors with
      // int128. The variance/covariance differences stay EXACT integers
      // up to the single final double cast.
      expr("""CASE WHEN cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx = 0
             |    OR cast(n as decimal(38,0))*syy - cast(sy as decimal(38,0))*sy = 0
             |  THEN cast(0 as double)
             |  ELSE cast(cast(n as decimal(38,0))*sxy - cast(sx as decimal(38,0))*sy as double)
             |    / (sqrt(cast(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx as double))
             |       * sqrt(cast(cast(n as decimal(38,0))*syy - cast(sy as decimal(38,0))*sy as double))) END""".stripMargin)
        .as("assortativity"))
    out
  }
}
