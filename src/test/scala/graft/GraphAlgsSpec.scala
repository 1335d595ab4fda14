package graft

import graft.llm.GraphAlgs

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Unit checks for the reusable graph API on a crafted graph: a 1-2-3
  * chain plus an isolated node 4. The PageRank expectations are the
  * exact integers an independent DuckDB recursive-CTE implementation of
  * the same fixed-point arithmetic produces — cross-engine constants,
  * not self-derived.
  */
class GraphAlgsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
  private def edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")

  test("connectedComponents: chain collapses to min id, singleton kept") {
    val got = GraphAlgs.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("pageRank: bit-exact fixed-point ranks (DuckDB cross-check values)") {
    val got = GraphAlgs.pageRank(nodes, edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      1L -> 167084492187L, 2L -> 415831015625L,
      3L -> 167084492187L, 4L -> 37500000000L))
  }

  test("empty graph returns empty results, no division by zero") {
    val none = Seq.empty[Long].toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphAlgs.connectedComponents(none, noEdges).count() === 0)
    assert(GraphAlgs.pageRank(none, noEdges).count() === 0)
  }

  test("isolated nodes keep exactly the base rank") {
    val got = GraphAlgs.pageRank(nodes, edges, iters = 5)
      .filter(col("id") === 4L).collect()(0).getLong(1)
    val base = (15L * (1000000000000L / 4)) / 100L
    assert(got === base)
  }

  /** Capture every executed physical plan during `body`. */
  private def capturePlans(body: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.synchronized {
        plans += qe.executedPlan.toString
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // QueryExecutionListener delivery is async; wait until the plan
      // count is stable (no new arrivals for 500ms) so EVERY
      // iteration's plan is inspected, not just the first
      val deadline = System.nanoTime() + 15000000000L
      var last = -1
      var stableSince = System.nanoTime()
      var done = false
      while (!done && System.nanoTime() < deadline) {
        val n = plans.synchronized(plans.size)
        if (n != last) { last = n; stableSince = System.nanoTime() }
        done = n > 0 && (System.nanoTime() - stableSince) >= 500000000L
        if (!done) Thread.sleep(50)
      }
    } finally spark.listenerManager.unregister(l)
    plans.toSeq
  }

  test("scale path (broadcastMaxNodes=0) never broadcasts the rank/label " +
    "table and stays bit-identical") {
    // disable engine-chosen broadcasts: AQE happily broadcasts the tiny
    // test-scale tables, which is fine (and would not happen at 100 TB).
    // What must NOT exist is a broadcast the plan cannot run without —
    // an explicit broadcast() hint survives these thresholds, so with
    // them off, any BroadcastExchange left is a mandatory one.
    Catalog.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val prPlans = capturePlans {
        val got = GraphAlgs.pageRank(nodes, edges, iters = 5, broadcastMaxNodes = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === Map(
          1L -> 167084492187L, 2L -> 415831015625L,
          3L -> 167084492187L, 4L -> 37500000000L))
      }
      // no mandatory broadcast anywhere in the iteration: at 100 TB the
      // rank table outgrows every broadcast threshold, so the default
      // plan must work without one (VERDICT r02 item 4)
      assert(prPlans.nonEmpty)
      assert(!prPlans.exists(_.contains("BroadcastExchange")),
        prPlans.find(_.contains("BroadcastExchange")).getOrElse(""))
      val ccPlans = capturePlans {
        val got = GraphAlgs.connectedComponents(nodes, edges, broadcastMaxNodes = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
      }
      assert(ccPlans.nonEmpty)
      assert(!ccPlans.exists(_.contains("BroadcastExchange")),
        ccPlans.find(_.contains("BroadcastExchange")).getOrElse(""))
    }
  }

  test("seeded random graph: components match an independent union-find, " +
    "ranks match an independent exact fixed-point loop") {
    val rnd = new scala.util.Random(20260812L)
    val n = 400
    val nodeIds = (0L until n.toLong).toSeq
    // dedup on the UNORDERED pair: the GraphAlgs contract is "pass each
    // pair once" — ordered-only dedup can leave both orientations in,
    // silently double-weighting that edge
    val edgeSeq = Seq.fill(500)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val nodesDf = nodeIds.toDF("id")
    val edgesDf = edgeSeq.toDF("src", "dst")

    // independent union-find ground truth (path compression), component
    // id canonicalized to min member
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edgeSeq.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedCc = nodeIds.map(i => i -> find(i.toInt).toLong).toMap
    val gotCc = GraphAlgs.connectedComponents(nodesDf, edgesDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCc === expectedCc)

    // independent exact integer PageRank: same fixed-point arithmetic,
    // straight Scala loop over the symmetrized adjacency
    val scale = 1000000000000L
    val iters = 5
    val sym = edgeSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val init = scale / n
    val base = (15L * init) / 100L
    var pr = nodeIds.map(_ -> init).toMap
    (1 to iters).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      sym.foreach { case (s0, d0) =>
        contrib(d0) += Math.floorDiv(pr(s0), deg(s0))
      }
      pr = nodeIds.map(i => i -> (base + Math.floorDiv(85L * contrib(i), 100L))).toMap
    }
    val gotPr = GraphAlgs.pageRank(nodesDf, edgesDf, iters, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPr === pr)
  }

  test("labelPropagation: frequency beats min label, isolated keep their own") {
    // Round 1 (all labels = ids, every count 1 -> min neighbor label):
    //   2->3, 3->2, 4->5, 5->4, 6->4, 9->2
    // Round 2 at node 9: neighbor labels {4, 4, 3} -> the twice-seen 4
    // wins over the smaller 3 (the most-frequent rule, not min).
    val n = Seq(2L, 3L, 4L, 5L, 6L, 9L).toDF("id")
    val e = Seq((9L, 5L), (9L, 6L), (9L, 2L), (5L, 4L), (6L, 4L), (2L, 3L))
      .toDF("src", "dst")
    val got = GraphAlgs.labelPropagation(n, e, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 2L, 6L -> 2L, 9L -> 4L))
  }

  test("triangleCounts: one triangle credited to all corners, lcc exact") {
    // triangle {1,2,3} + pendant (3,4) + isolated 5
    val n = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAlgs.triangleCounts(n, e)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 1L, 1.0)))
    assert(got(2L) === ((2L, 1L, 1.0)))
    assert(got(3L) === ((3L, 1L, 1.0 / 3.0)))
    assert(got(4L) === ((1L, 0L, 0.0))) // degree < 2: lcc defined as 0
    assert(got(5L) === ((0L, 0L, 0.0)))
  }

  test("d08/g01 GATE queries honor graft.graph.checkpointDir: reliable " +
    "rounds, identical results") {
    val sf = "/root/testdata/sf0.001"
    val spark0 = spark
    val ccBase = SparkEntry.queries("d08_conn_components")(spark0, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prBase = SparkEntry.queries("g01_pagerank")(spark0, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    TempDirs.scoped("graft-gate-ckpt") { dir =>
      // a fresh session invalidates the graph memo (session-identity
      // check), so the conf'd run really re-derives through checkpoint()
      val s2 = spark0.newSession()
      s2.conf.set(Materialize.GraphCheckpointDirConf, dir.toString)
      val cc = SparkEntry.queries("d08_conn_components")(s2, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cc === ccBase)
      val pr = SparkEntry.queries("g01_pagerank")(s2, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pr === prBase)
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, "gate run wrote no reliable checkpoints")
    }
  }

  test("reliable checkpoint mode: results identical, checkpoint dir used") {
    TempDirs.scoped("graft-ckpt") { dir =>
      // every pin reads the conf from its frame's session
      val s2 = spark.newSession()
      s2.conf.set(Materialize.GraphCheckpointDirConf, dir.toString)
      val nodes = s2.createDataFrame(Seq(1L, 2L, 3L, 4L).map(Tuple1(_))).toDF("id")
      val edges = s2.createDataFrame(Seq((1L, 2L), (2L, 3L))).toDF("src", "dst")
      val got = GraphAlgs.pageRank(nodes, edges, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(
        1L -> 167084492187L, 2L -> 415831015625L,
        3L -> 167084492187L, 4L -> 37500000000L))
      val cc = GraphAlgs.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
      // reliable checkpoints actually landed in the directory
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, "no checkpoint files written")
    }
  }

  test("bfsLayers: hop distances from multi-source seeds, depth cap and " +
    "unreachable nodes report -1") {
    // chain 1-2-3-4-5-6 plus isolated 7; seeds {1}: dist = hops, capped
    val ns = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = GraphAlgs.bfsLayers(ns, es, seeds, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3,
      5L -> -1, 6L -> -1, 7L -> -1))
    // multi-source: seeds {1, 6} meet in the middle (undirected edges)
    val got2 = GraphAlgs.bfsLayers(ns, es, Seq(1L, 6L).toDF("id"), 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2 === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2,
      5L -> 1, 6L -> 0, 7L -> -1))
  }

  test("bfsLayers matches a sequential reference BFS on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edgeList = (1 to 150).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      .filter(e => e._1 != e._2)
    val seedIds = Seq(0L, 17L, 43L)
    val depth = 5
    // sequential reference: classic queue BFS over the symmetric graph
    val adj = edgeList.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val dist = scala.collection.mutable.Map(seedIds.map(_ -> 0): _*)
    var frontier = seedIds.toSet
    (1 to depth).foreach { k =>
      frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(v => dist(v) = k)
    }
    val expected = (0L until n).map(v => v -> dist.getOrElse(v, -1)).toMap
    val got = GraphAlgs.bfsLayers(
      (0L until n).toDF("id"), edgeList.toDF("src", "dst"),
      seedIds.toDF("id"), depth)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === expected)
  }
}
