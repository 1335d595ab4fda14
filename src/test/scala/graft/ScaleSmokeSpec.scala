package graft

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.tools._

/** Every scale smoke body runs at a tiny size on the shared session:
  * the smoke's own `require`/`assert` checks run, every line it prints
  * parses as one JSON object without duplicate keys, and the key sets
  * of its lines are exactly the ones listed here (the smoke's output
  * contract; only the sizes and the printed precision of doubles
  * differ from a run of its `main`).
  */
class ScaleSmokeSpec extends AnyFunSuite {
  private lazy val spark = {
    functions.GraftFunctions.register(TestSpark.spark)
    TestSpark.spark
  }
  private val sf = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  /** The lines `body` prints, parsed: one key list per line. */
  private def emitted(body: => Unit): Seq[Seq[String]] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(body)
    val lines = out.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    assert(lines.nonEmpty, "the smoke printed nothing")
    lines.map { l =>
      val node = mapper.readTree(l)
      assert(node.isObject, l)
      node.fieldNames().asScala.toSeq
    }
  }

  /** `body`'s lines carry exactly the key sets in `expected` (comma lists). */
  private def assertKeys(expected: String*)(body: => Unit): Unit = {
    val got = emitted(body).map(_.toSet).toSet
    val want = expected.map(_.split(",").map(_.trim).toSet).toSet
    assert(got === want)
  }

  test("CountMinScaleSmoke") {
    assertKeys("metric, n_rows, n_keys, state_cells, mean_over, max_over, " +
      "n_over_w, markov_bound_2n_over_w, all_within_bound, grid_s") {
      CountMinScaleSmoke.run(spark, Seq(1000L))
    }
  }

  test("KmvScaleSmoke") {
    assertKeys("metric, n_rows, group, k, sketch_longs, exact_ndv, est_ndv, " +
      "err_ppm, se_theory_ppm, agg_s") {
      KmvScaleSmoke.run(spark, Seq(1000L, 2000L))
    }
  }

  test("SimhashScaleSmoke") {
    assertKeys("metric, scale, n_docs, chunk_bits, candidate_pairs, join_s, " +
      "pairs_per_doc") {
      SimhashScaleSmoke.run(spark, sf, Seq(1))
    }
  }

  test("SavepointScaleSmoke") {
    TempDirs.scoped("smoke-savepoint") { dir =>
      assertKeys("metric, n_keys, max_parallelism, parallelism, write_s, " +
        "write_peak_mb, meta_handles_128, meta_handles_256, " +
        "scan_subtask_parts, scan_subtask_s, scan_subtask_max_rows, " +
        "scan_subtask_peak_mb, rescale_s, rescale_peak_mb, verify_s, " +
        "verified_rows") {
        // 4 → 8 subtasks: the path of main's 128 → 256 without its
        // fixed cost per nearly empty subtask file
        SavepointScaleSmoke.run(spark, 2000L, dir.toString, 4, 128)
      }
    }
  }

  test("CurationScaleSmoke") {
    val stage = "metric, scale, stage, rows_in, rows_out, s"
    assertKeys(stage,
      s"$stage, cc_rounds, cc_round_s, cc_path, cc_partitions, cc_s_per_kpair",
      s"$stage, splits",
      s"$stage, max_bin_id") {
      CurationScaleSmoke.run(spark, sf, Seq(1))
    }
  }

  test("GraphScaleSmoke") {
    assertKeys("smoke, algo, nodes, edges, path, partitions, rounds, " +
      "round_secs, total_sec, n_components, broadcast_max_nodes",
      "smoke, algo, nodes, edges, path, depth, seeds, reached, total_sec, " +
        "broadcast_max_nodes") {
      // broadcast ceiling 0: the co-partition path of both loops; chains
      // of 7 or 8 nodes, so one BFS seed reaches depth 6
      GraphScaleSmoke.run(spark, Seq(1500L -> 0L), 200L)
    }
  }

  test("TrussScaleSmoke") {
    assertKeys("metric, n_blocks, n_edges, path, trussness_8_edges, " +
      "expected_clique_edges, max_trussness, planted_recovered, total_s") {
      TrussScaleSmoke.run(spark, Seq(2))
    }
  }

  test("EpsGraphScaleSmoke: the exact-baseline ladder and the blocked row") {
    val head = "metric, bands, path, n_vecs"
    // the sampled recall panel runs in the ladder only above 20k
    // vectors; the blocked row runs the same panel at any size
    val recall = "probes, k, gt_eps_edges, eps_recall_sampled, " +
      "exact_knn_edges, knn_recall, exact_knn_edges_cos_ge_0_7, " +
      "knn_recall_cos_ge_0_7, gt_eps_s, gt_knn_s, knn_total_s"
    assertKeys(s"$head, pairs_examined, eps_edges, total_s",
      s"$head, pairs_examined, pairs_per_vec, candidates_s",
      s"$head, pairs_examined, pairs_per_vec, eps_edges, edge_recall_at_eps, " +
        "candidates_s, total_s",
      s"$head, k, exact_knn_edges, knn_recall, exact_knn_edges_cos_ge_0_7, " +
        "knn_recall_cos_ge_0_7, knn_total_s",
      s"$head, panel_vecs, pairs_examined, pairs_per_panel_vec, eps_edges, " +
        "panel_exact_edges, edge_recall_at_eps, exact_baseline_s, " +
        "candidates_s, total_s") {
      EpsGraphScaleSmoke.run(spark, Seq(500L))
    }
    assertKeys(s"$head, slices, pairs_examined, pairs_per_vec, verified_pairs, " +
      "eps_edges, candidates_s, verify_s",
      s"$head, $recall, free_gb_end") {
      EpsGraphScaleSmoke.blocked(spark, 500L, 2)
    }
  }

  test("SnapshotChainScaleSmoke") {
    assertKeys("metric, batch, batch_rows, snapshot_keys, snapshot_bytes, merge_s",
      "metric, vacuum, retired_versions, reclaimed_bytes, vacuum_s, head_keys") {
      SnapshotChainScaleSmoke.run(spark, 500L, 1000L, 3)
    }
  }

  test("StreamStateScaleSmoke") {
    val head = "metric, op, n_rows, micro_batches, state_rows"
    assertKeys(s"$head, kappa_exact, wall_s, rows_per_s",
      s"$head, max_sketch_longs, k, wall_s, rows_per_s") {
      // 2 micro-batches: one cross-batch state merge, as main's 8 make 7
      StreamStateScaleSmoke.run(spark, Seq(2000L), 2)
    }
  }

  test("Json.quote round-trips every oracle SQL text and every control char") {
    val tricky = "q\"b\\s/" + (0 until 0x20).map(_.toChar).mkString +
      "é " + new String(Character.toChars(0x1F600))
    (SparkEntry.oracleSql.values.toSeq :+ tricky).foreach { s =>
      assert(mapper.readValue(Json.quote(s), classOf[String]) === s)
    }
  }
}
