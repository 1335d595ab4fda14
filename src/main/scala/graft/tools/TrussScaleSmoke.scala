package graft.tools

import graft.llm.GraphAlgs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured evidence for g14's scale design: the truss decomposition
  * peels DISTRIBUTED while the survivor set exceeds the bounded local
  * budget (LocalPeelMaxEdges = 200k) and finishes the remaining levels
  * in ONE in-memory incremental-support pass. This smoke grows a
  * synthetic graph across that threshold and verifies, per scale:
  *
  *   - wall time and the edge count at each path's entry;
  *   - CORRECTNESS of the planted structure: every 1000-node block
  *     plants one 8-clique (28 edges, trussness exactly 8) on a
  *     background of hash-random edges (almost all triangle-free —
  *     trussness 2, peeled in the first round). The smoke asserts the
  *     planted-clique edge count is recovered exactly at every scale
  *     and no edge exceeds the planted trussness;
  *   - the handoff: at the smallest scale the local path runs
  *     immediately; at the largest, the first distributed rounds peel
  *     the background until the survivor set fits the budget.
  *
  * Graph generation is distributed and deterministic (hash-of-id
  * targets, no driver materialization). Run:
  * `sbt "runMain graft.tools.TrussScaleSmoke"` (20, 60 and 180 blocks;
  * [[run]] takes the block counts). `total_s` times the decomposition
  * through its materialized result. Record lands in
  * TRUSS_SCALE_r12.json + PLANS.md.
  */
object TrussScaleSmoke {

  def main(args: Array[String]): Unit =
    ToolKit.main("graft-truss-scale-smoke")(run(_, Seq(20, 60, 180)))

  /** One JSON line per 1000-node block count in `blockCounts`. */
  def run(spark: SparkSession, blockCounts: Seq[Int]): Unit = {
    // planted 8-cliques: nodes block*1000 .. block*1000+7, all pairs.
    // background: each node u gets 4 hash-random forward edges
    // (u < v, v drawn from the whole id range) — triangle mass in the
    // background is negligible, so it peels at k=3 round one.
    def graph(nBlocks: Int): DataFrame = {
      val n = nBlocks * 1000L
      val clique = spark.range(nBlocks).toDF("blk")
        .select(explode(expr(
          """flatten(transform(sequence(0, 6), i ->
            |  transform(sequence(cast(i as bigint) + 1, 7), j ->
            |    struct(blk * 1000 + i AS src, blk * 1000 + j AS dst))))"""
            .stripMargin)).as("e"))
        .select(col("e.src"), col("e.dst"))
      val bg = spark.range(n).toDF("u")
        .select(col("u"), explode(expr(
          s"""transform(sequence(0, 3), t ->
             |  pmod(hash(u, t), ${n}L))""".stripMargin)).as("v"))
        .filter(col("u") < col("v"))
        .select(col("u").as("src"), col("v").as("dst"))
      clique.unionAll(bg)
    }

    ToolKit.rungs(spark, blockCounts) { nBlocks =>
      val g = graph(nBlocks).cache()
      val nEdges = g.distinct().count()
      // the count materializes the cached result INSIDE the timer
      val (tn, secs, _) = ToolKit.phase {
        val t = GraphAlgs.trussDecomposition(g, maxK = 10).cache()
        t.count()
        t
      }
      val hist = tn.groupBy(col("trussness")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val planted = hist.getOrElse(8L, 0L)
      val expected = nBlocks * 28L
      val maxT = hist.keys.max
      // background collisions can add edges INSIDE a planted clique's
      // id range; they only reinforce, so >= expected is the law —
      // and nothing anywhere may exceed the planted order
      val ok = planted >= expected && maxT <= 8L
      ToolKit.emit("metric" -> "truss_scale_smoke", "n_blocks" -> nBlocks,
        "n_edges" -> nEdges,
        "path" -> (if (nEdges <= GraphAlgs.LocalPeelMaxEdges) "local_immediate"
          else "distributed_then_local"),
        "trussness_8_edges" -> planted, "expected_clique_edges" -> expected,
        "max_trussness" -> maxT, "planted_recovered" -> ok,
        "total_s" -> secs)
      // fail LOUDLY: a broken handoff must not land as a quiet false
      // in the committed artifact (round-12 review)
      assert(ok, s"planted-truss recovery failed at $nBlocks blocks: " +
        s"trussness-8 edges $planted (expected >= $expected), max $maxT")
    }
  }
}
