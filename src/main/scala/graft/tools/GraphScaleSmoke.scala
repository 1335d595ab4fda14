package graft.tools

import graft.{Layout, Materialize}
import graft.llm.GraphAlgs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats.Actual

/** Parallel-scaling evidence for the iterative graph loops. The sf0.1 bench cannot provide it — every
  * family's 8-vs-32-core ratio is ≤ 1.02 because per-query fixed cost
  * dominates at gate scale — so this smoke runs connectedComponents and
  * multiSourceBfs on synthetic graphs whose node count ladders PAST
  * `broadcastMaxNodes`, proving three things the bench can't see:
  *
  *  1. the broadcast → co-partition gate actually FLIPS (the large
  *     tiers run the repartition path the gate queries never execute
  *     locally), with correct results on both sides of the flip;
  *  2. per-round wall time grows ~linearly with edges while the round
  *     COUNT stays at O(log diameter) — the scale claim;
  *  3. the size-derived layout ([[graft.Layout.partitions]]) keeps
  *     small tiers at few partitions and large tiers at the session's
  *     parallelism (no local-mode tuning leaking to scale).
  *
  * The graph is deterministic and its answers are closed-form: nodes
  * 0..n-1 in `chains` disjoint chains (i → i+chains while in range), so
  * component count = chains, every component's min-id label = its chain
  * index, and BFS from seed node 0 reaches exactly
  * ceil(len(chain 0)/1)=… — we assert the reachable count at the run's
  * maxDepth instead of the full profile. Chain length n/chains bounds
  * the diameter, so CC rounds ≈ log2(n/chains) + 2.
  *
  * Run: `sbt "runMain graft.tools.GraphScaleSmoke [nodes[:bmax],...]
  * [chains]"` (default tiers 1000000,6000000,6000000:0 and 50000
  * chains; [[run]] takes the parsed tiers). One JSON line per (tier,
  * algo); the cc row's rounds come from the run's own
  * [[GraphAlgs.CcStats]]. Committed record: GRAPH_SCALE_r17.json.
  */
object GraphScaleSmoke {

  def main(args: Array[String]): Unit = {
    // tier syntax: "<nodes>" (default gate) or "<nodes>:<broadcastMax>"
    // — ":0" forces the co-partition path even for joins whose own row
    // counts (BFS frontier/visited) never cross the default ceiling
    val tiers = (if (args.length > 0) args(0)
      else "1000000,6000000,6000000:0")
      .split(",").toSeq.map { t =>
        val parts = t.trim.split(":")
        (parts(0).toLong,
          if (parts.length > 1) parts(1).toLong
          else Layout.DefaultBroadcastMaxNodes)
      }
    val chains = if (args.length > 1) args(1).toLong else 50000L
    ToolKit.main("graft-graph-scale-smoke")(run(_, tiers, chains))
  }

  /** Two JSON lines (cc, msbfs) per (nodes, broadcastMaxNodes) tier. */
  def run(spark: SparkSession, tiers: Seq[(Long, Long)], chains: Long): Unit =
    ToolKit.rungs(spark, tiers) { case (n, bmax) => Materialize.scoped { m =>
      // chain graph: i -> i + chains (disjoint chains of length
      // ~n/chains); pinned so tier build cost stays out of the timed
      // region and stats are the pin's own, released after the tier
      val nodes = m.pin(spark.range(n).select(col("id")), Actual)
      val edges = m.pin(spark.range(n - chains)
          .select(col("id").as("src"), (col("id") + chains).as("dst")), Actual)
      val ((nComp, st), ccSecs, _) = ToolKit.phase {
        val (labels, st) = GraphAlgs.connectedComponentsWithStats(nodes, edges,
          maxRounds = 64, broadcastMaxNodes = bmax)
        (labels.select(countDistinct(col("component"))).first().getLong(0), st)
      }
      assert(nComp == chains.min(n),
        s"tier $n: expected ${chains.min(n)} components, got $nComp")
      ToolKit.emit("smoke" -> "graph_scale", "algo" -> "cc", "nodes" -> n,
        "edges" -> (n - chains), "path" -> st.path, "partitions" -> st.partitions,
        "rounds" -> st.rounds, "round_secs" -> st.roundSecs, "total_sec" -> ccSecs,
        "n_components" -> nComp, "broadcast_max_nodes" -> bmax)

      // multi-source BFS: seeds = one node per 1000th chain head; at
      // maxDepth D each seed reaches D+1 nodes of its own chain (chain
      // heads are ids < chains, steps of +chains stay in range for
      // these shallow depths), so reached rows = seeds * (D+1)
      val depth = 6
      val seeds = spark.range(0, chains, 1000)
        .select(col("id").as("probe"), col("id"))
      val (reached, bfsSecs, _) = ToolKit.phase {
        GraphAlgs.multiSourceBfs(edges, seeds, depth,
          broadcastMaxNodes = bmax).count()
      }
      val nSeeds = (chains + 999) / 1000
      assert(reached == nSeeds * (depth + 1),
        s"tier $n: expected ${nSeeds * (depth + 1)} reached, got $reached")
      // BFS gates on its own frontier/visited counts, which stay under
      // the default ceiling regardless of graph size — only a forced
      // bmax=0 exercises its co-partition path
      val bfsPath = if (bmax == 0) "co-partition(forced)" else "broadcast"
      ToolKit.emit("smoke" -> "graph_scale", "algo" -> "msbfs", "nodes" -> n,
        "edges" -> (n - chains), "path" -> bfsPath, "depth" -> depth,
        "seeds" -> nSeeds, "reached" -> reached,
        "total_sec" -> bfsSecs, "broadcast_max_nodes" -> bmax)
    }}
}
