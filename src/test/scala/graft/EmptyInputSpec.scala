package graft

import org.scalatest.funsuite.AnyFunSuite

/** Empty-input contract: at 100 TB an empty shard / day / partition is
  * routine, not exceptional. Every operator must either succeed with a
  * well-defined (usually empty) result, or refuse with an EXPLICIT
  * contract message at the API boundary. What is never acceptable is an
  * inscrutable crash from deep inside a plan (null bloom buf, untyped
  * empty array literal, grouped(0)) — those are exactly the failures
  * this spec's fixture exposed, all fixed at the operator level:
  * bloom pre-drop paths short-circuit an empty build side, the lake
  * re-read pins its schema, the savepoint writer emits header-only
  * files for row-less subtasks (serializer info must survive an empty
  * write — Flink layout parity), and the model-building ops
  * (centroids/codebooks/seeds) `require` non-empty models loudly.
  */
class EmptyInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** All 10 driver tables, zero rows each, schemas copied from sf0.001. */
  private lazy val dir: String = {
    val d = TempDirs.create("graft-emptyfix")
    Catalog.tableNames.foreach { t =>
      val src = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      TestIo.writeSingleFile(src.limit(0), d, t)
    }
    d
  }

  /** The queries the empty sweep originally crashed with obscure
    * errors — each must now complete (an empty savepoint round-trips,
    * an empty lake reads back, an empty corpus blooms to "no dups").
    */
  private val mustSucceed = Seq(
    "q42_bloom_join", "i03_partitioned_lake",
    "d17_incremental_dedup", "d20_ingest_report", "st12_stream_ingest_dedup",
    "sp06_flink_roundtrip", "sp09_rescale", "sp21_union_state",
    "sp22_split_list_state", "sp23_raw_state_passthrough", "sp24_timer_state",
    "sp25_native_rocksdb_write", "sp26_incremental_update",
    "sp27_checkpoint_gc", "sp28_v4_finished_metadata",
    "sp37_checkpoint_retention",
    "st08_bootstrap_from_savepoint",
    // representatives of the families that always worked on empty
    "q01_pricing_summary", "q53_window_distinct", "t01_lang_id",
    "d02_minhash_lsh", "g01_pagerank", "p17_dataset_card",
    "m07_shard_integrity", "st19_stream_quality_gate",
    // round-8 batches 9-13: every new operator is empty-safe by
    // construction (zone-map prune of an empty lake, empty graph
    // moments, empty LSH sweep, corrupt-only malformed audit, ...)
    "j04_time_weighted_avg", "j05_asof_nearest", "g07_degree_profile",
    "g08_modularity", "t30_feature_hashing", "p20_padding_efficiency",
    "s15_binary_ann", "d21_bag_dedup", "d22_lsh_tuning",
    "q57_percentile_cont", "q58_lateness_profile", "m08_modality_mix",
    "i09_zone_map_skipping", "i10_malformed_audit", "sp30_rescale_plan",
    // batch 17: empty corpus -> empty BM25 postings / zero-recall
    // report / empty elbow sweep / empty dimension merge (schema-pinned
    // re-read)
    "t32_bm25", "s17_truncated_recall", "c08_elbow", "i11_scd2_merge",
    // batch 18: empty graph peels to zeros, empty LM/attribution/gzip
    // corpus -> empty reports
    "g09_kcore_peel", "t33_kneser_ney", "q59_attribution",
    "i12_gzip_jsonl",
    // batches 19-24: empty events/orders/corpus -> empty reports; the
    // MMR/TextRank iterations run on empty checkpointed relations; the
    // evolved lake re-reads through pinned schemas; an empty savepoint
    // key-migrates (header-only files both writes)
    "q60_markov_transitions", "q61_rfm_segments", "j06_incident_overlap",
    "q62_abc_analysis", "q63_basket_affinity", "s18_mmr_rerank",
    "t34_textrank", "t35_lexical_profile", "t36_kn_heldout",
    "p22_preference_pairs", "g10_two_hop", "g12_incremental_components",
    "d26_method_agreement", "m09_caption_align", "m10_keyframes",
    "i13_cdc_apply", "i14_partition_evolution", "sp33_key_migration",
    "st22_sliding_windows",
    // round 9: empty corpus -> header-only avro/xml files, empty
    // re-read through the pinned schema, empty fidelity report; empty
    // drift profiles join to an empty report
    "i15_avro_roundtrip", "i16_xml_roundtrip", "st23_stream_dist_drift",
    // round-9 batch 2: empty orders -> empty decile report (the rank
    // prefix-sum and div-by-total never evaluate on zero rows); empty
    // corpus -> no prefix groups / no vocabulary pairs
    "q69_decile_lift", "d23_prefix_dup", "t41_source_vocab_overlap",
    // round-9 batch 3: an empty stream writes an empty (typed) snapshot
    // v0; empty fixed-width/json-array exports read back as empty
    // relations through their pinned schemas
    "st24_stream_upsert_sink", "i17_fixed_width", "i18_json_array_roundtrip",
    // round-9 batch 4: empty panels/corpora -> empty fused lists, empty
    // role reports, and an 11-row all-zero retention sweep (totals
    // guarded by greatest(_, 1))
    "s21_rank_fusion", "c11_dbscan_core", "p25_quality_prune_sweep",
    // round-9 batch 5: empty journeys/corpus/chain -> empty path table,
    // empty keyword report, compaction of an empty savepoint chain
    "q70_event_paths", "t42_rake_keywords", "sp36_checkpoint_compaction",
    // round 10: an empty stream still builds the 4-version snapshot
    // chain (all empty), prices it as four all-zero report rows, and
    // vacuums the retired versions without touching the survivor; an
    // empty embedding table yields an empty (typed) contamination report
    "st25_snapshot_vacuum", "d28_semantic_contamination",
    // an empty corpus writes a part-less lake; both ingest sessions
    // find zero shards and the manifest reads back empty through its
    // pinned schema
    "i19_resumable_ingest",
    // two empty versions diff to an empty report; an empty event stream
    // yields an empty quantile sketch (batch and streaming alike)
    "p26_corpus_version_diff", "q71_sketch_quantiles",
    "st26_stream_quantiles",
    // an empty corpus calibrates to an empty diagram
    "t43_score_calibration",
    // round 11: an empty corpus yields an empty merge-candidate table
    // and an empty truss report (c12 is under mustRefuse: its Lloyd
    // halves share c01's empty-MODEL contract)
    "t44_bpe_merge_step", "g13_truss_support",
    // an empty event stream has no populations: zero sketch rows, zero
    // pairs, an empty overlap/cardinality report (batch and streaming)
    "q72_kmv_set_ops", "st27_stream_kmv_ndv",
    // an empty media lake has no payloads: empty dedup ledger
    "m11_media_dedup",
    // round 12 (back-filled r13): an empty corpus yields an empty truss
    // decomposition, loop report, split, funnel (three zero rows), and
    // occupancy monitor; d29's report is ONE row of zeros (count aggs
    // over empty relations) at the ladder's first tier
    "g14_truss_decomposition", "t45_repetition_loops",
    "p27_leakage_safe_split", "d29_adaptive_family_report",
    "st28_stream_band_occupancy", "q73_funnel_conversion",
    // round 13: empty events/documents/embeddings flow through to empty
    // results everywhere — no scalar in any of these divides by an
    // empty-derived denominator without a guard
    "q74_rolling_distinct", "q75_cusum_drift", "j07_interval_coalesce",
    "q76_decayed_engagement", "p28_pack_budget_sweep",
    "g15_harmonic_centrality", "d30_cross_label_neardup",
    "t46_source_vocab_drift", "st29_stream_contamination_gate",
    // round-13 batch 2: an empty event stream builds an empty count-min
    // grid with no probes (batch and streaming); empty orders yield an
    // empty hazard table and an all-zero 9-row Benford panel (total
    // guarded); an empty graph carries zero restart mass; an empty
    // media lake has no clips to segment
    "q77_countmin_sketch", "q78_survival_hazard", "q79_benford_audit",
    "g16_personalized_pagerank", "m12_audio_vad", "st30_stream_countmin",
    // an empty holdout reports one all-zero row (guarded sums); an
    // empty corpus allocates an empty mix; an empty event table has
    // no day grain and trends to an empty report
    "q80_holdout_lift", "p29_capped_mix", "q81_theilsen_trend",
    // round 14: empty orders → one all-zero rank-sum row (guarded
    // denominators); empty documents → empty Gini table; empty events
    // → a NULL day spine explodes to zero rows, so Kendall and the
    // autocorrelation emit one all-zero row through their guards
    "q82_ranksum_test", "q83_gini_concentration", "q84_kendall_corr",
    "q85_autocorr_lag1")

  /** Model-building ops: an empty MODEL (centroids, codebook, seeds) is
    * a caller bug and must refuse with the documented message — not a
    * deep analysis error.
    */
  private val mustRefuse = Map(
    "s03_ann_ivf" -> "non-empty centroid set",
    "s13_range_search" -> "non-empty centroid set",
    "s14_ivf_stats" -> "non-empty centroid set",
    "c01_kmeans_step" -> "non-empty centroid set",
    "c03_cluster_eval" -> "non-empty centroid set",
    "c05_silhouette" -> "non-empty centroid set",
    "d13_semdedup" -> "non-empty centroid set",
    "c04_kmeanspp_seed" -> "non-empty vector set",
    "c06_bisect_split" -> "non-empty centroid set",
    "s06_pq_encode" -> "non-empty codebook",
    "s07_ivf_pq_adc" -> "non-empty codebook",
    // batches 19-23 model-building ops share the same contract
    "c09_davies_bouldin" -> "non-empty centroid set",
    "c10_rand_index" -> "non-empty centroid set",
    "s19_centroid_drift" -> "non-empty centroid set",
    "c12_split_stability" -> "non-empty centroid set")

  test("operators complete on fully-empty tables (empty shard/day is " +
    "routine, not exceptional)") {
    val failures = mustSucceed.flatMap { name =>
      try { SparkEntry.queries(name)(spark, dir).collect(); None }
      catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty,
      s"queries died on empty input:\n  ${failures.mkString("\n  ")}")
  }

  test("model-building ops refuse an empty model with the documented " +
    "contract message") {
    mustRefuse.foreach { case (name, needle) =>
      val e = intercept[Exception] {
        SparkEntry.queries(name)(spark, dir).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains(needle)),
        s"$name should refuse with '$needle', got: ${e.getMessage}")
    }
  }
}
