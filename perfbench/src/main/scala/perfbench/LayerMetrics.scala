package perfbench

/** Every per-layer metric a traced run reports, with its unit, in the
  * order BENCHMARK.json lists them. Each workload reports the layers it
  * exercises; the others read 0 (README.md maps each metric to the
  * end-to-end metric and workload it should move).
  */
object LayerMetrics {
  private def s(names: String*): Seq[(String, String)] = names.map(_ -> "s")

  val all: Seq[(String, String)] =
    Seq("spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.tasks" -> "count") ++
      s("spark.task_s") ++ Seq("spark.core_util" -> "ratio") ++ s("spark.max_task_s") ++
      Seq("spark.single_task_share" -> "ratio") ++ s("spark.driver_gap_s") ++
      Seq("spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB") ++ s("spark.gc_s") ++
      Seq("meta.load_ms" -> "ms", "meta.write_ms" -> "ms", "meta.bytes" -> "B") ++
      s("scan.raw_s") ++ Seq("scan.raw_mb_per_s" -> "MB/s") ++ s("scan.pushdown_s") ++
      Seq("scan.pushdown_share" -> "ratio", "scan.pushdown_byte_share" -> "ratio") ++
      s("scan.value_only_s", "scan.rocks_s") ++
      Seq("scan.rocks_core_util" -> "ratio", "scan.partitions" -> "count",
        "scan.rocks_partitions" -> "count") ++
      Seq("long", "flink_string", "list", "map").map(c => s"codec.decode_ns.$c" -> "ns") ++
      Seq("long", "flink_string", "list", "map").map(c => s"codec.encode_ns.$c" -> "ns") ++
      Seq("codec.keygroup_ns" -> "ns") ++
      s("reader.value_s", "reader.list_s", "reader.map_s", "reader.join_s",
        "reader.typed_overhead_s") ++
      s("writer.bootstrap_s", "writer.transform_s", "writer.rescale_s", "writer.rocks_s",
        "writer.verify_s", "writer.encode_task_s", "writer.max_subtask_s") ++
      Seq("writer.file_skew" -> "ratio", "writer.mb" -> "MB") ++
      QueryMix.Queries.map(_.name).flatMap(q => Seq(s"q.$q.wall_s" -> "s",
        s"q.$q.single_task_share" -> "ratio", s"q.$q.retained_mb" -> "MB")) ++
      QueryMix.Families.map(f => s"fam.${f}_s" -> "s") ++
      Seq("retained_storage_mb" -> "MB", "trace.overhead" -> "ratio")
}
