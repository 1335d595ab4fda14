package graft

import graft.llm.GraphAlgs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization internals:
  *
  *  - `GraphAlgs.adaptiveP`: the scale-adaptive partition count derives
  *    from the plan's sizeInBytes statistic, clamped to [1, conf] — a
  *    tiny relation collapses to one partition, an unknown/huge one
  *    keeps the configured parallelism (so nothing changes at scale).
  *  - `GraphAlgs.modularity`: m2 now derives from the degree table
  *    (Σ deg) instead of a third edge scan — results must stay
  *    bit-identical, including the empty-edge case whose m2 must stay
  *    exactly count(*)'s 0, not sum's NULL.
  */
class RoundSeventeenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("adaptiveP collapses a tiny relation to one partition and keeps " +
    "the configured parallelism when the statistic is huge") {
    val tiny = spark.range(100).toDF("id").localCheckpoint(true)
    val tinyStats = CheckpointStats.truncate(spark.range(100).toDF("id"),
      reliable = false, CheckpointStats.Actual)
    assert(GraphAlgs.adaptiveP(tinyStats, 32) === 1)
    // a parquet-less huge estimate: cross joins inflate sizeInBytes
    val big = tiny.crossJoin(tiny).crossJoin(tiny).crossJoin(tiny)
      .crossJoin(tiny)
    assert(GraphAlgs.adaptiveP(big, 32) === 32)
    // clamp floor: even a zero/unknown size never returns < 1
    assert(GraphAlgs.adaptiveP(tinyStats, 1) === 1)
  }

  test("modularity: m2 from Σ deg matches the direct edge count, " +
    "including the empty-edge case") {
    // planted: a 3-clique community (ids 1-3), a 2-path community
    // (4-5), one isolated node (6)
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 30L)).toDF("id", "community")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val got = GraphAlgs.modularity(labels, edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // m2 = 8 symmetrized rows; clique: intra2=6, D=6: (8*6-36)/64
    assert(got(10L) === ((3L, 3L, 6L, (8.0 * 6 - 36) / 64)))
    // path: intra2=2, D=2: (8*2-4)/64
    assert(got(20L) === ((2L, 1L, 2L, (8.0 * 2 - 4) / 64)))
    // isolated: intra2=0, D=0 -> contribution exactly 0
    assert(got(30L) === ((1L, 0L, 0L, 0.0)))
    // empty edges: m2 = Σ deg coalesces to exactly count(*)'s 0, so the
    // contribution division hits the SAME ANSI divide-by-zero the stock
    // count-based m2 produced — behavior unchanged, pinned here
    val ex = intercept[Exception] {
      GraphAlgs.modularity(labels,
        Seq.empty[(Long, Long)].toDF("src", "dst")).collect()
    }
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"), ex.getMessage)
  }
}
