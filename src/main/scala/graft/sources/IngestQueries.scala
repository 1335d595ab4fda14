package graft.sources

import graft.{Catalog, QueryDef, TempDirs}
import graft.llm.TextExprs.duckWordHash

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-format surface: the file formats a training-data pipeline
  * actually receives corpora in, gated end-to-end through the DuckDB
  * oracle by ROUNDTRIPPING the driver's parquet tables through each
  * format and proving the re-read relation aggregates identically.
  *
  * 100 TB stance, per format:
  *  - JSONL (i01): the lingua franca of web-scale text corpora. Schema
  *    is always EXPLICIT — `spark.read.schema(s).json(dir)` — because
  *    schema inference is a full extra pass over the corpus. Uncompressed
  *    (or zstd/bzip2) JSONL is line-splittable, so parallelism is
  *    byte-range driven like parquet; gzip parts are NOT splittable and
  *    cap parallelism at one task per file — acceptable only when the
  *    corpus is already sharded into many files of bounded size.
  *  - CSV (i02): header + quoted fields in the default `multiLine=false`
  *    mode, which keeps the format line-splittable. Fields containing
  *    the delimiter are quote-escaped by the writer and must survive the
  *    roundtrip byte-exactly (gated via a constructed delimiter-bearing
  *    column). Embedded newlines would force `multiLine=true` — one task
  *    per file — so the contract here is the splittable subset.
  *  - Hive-partitioned parquet lake (i03): `partitionBy(col)` layout is
  *    THE 100 TB pruning primitive — a reader filtering on the partition
  *    column never lists, opens, or scans non-matching directories
  *    (PartitionFilters in the scan node, asserted by IngestSpec). Low
  *    cardinality partition keys only (lang: 5 values); high-cardinality
  *    keys belong in sorted/z-ordered file layout (p07) instead.
  *
  * All three write into a temp dir with the SAME parallelism as the
  * source relation (no coalesce(1)): a 100 TB export must stream from
  * every task, and the re-read proves multi-part output is handled.
  */
object IngestQueries {

  /** ceil(total data bytes / target) — the output file count a
    * compaction rewrite coalesces to (>= 1). Listing only; no read.
    */
  def compactionTargetParts(s: org.apache.spark.sql.SparkSession,
      dir: String, targetBytes: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Per-lang fidelity aggregate used by i01/i02: row count, exact char
    * total, and the polynomial text hash summed per group — any
    * encode/escape defect in the roundtrip shifts `text_hash`.
    */
  private val fidelityOracle =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(${duckWordHash("text")}) AS BIGINT) AS text_hash
       |FROM documents GROUP BY lang""".stripMargin

  def all: Seq[QueryDef] = Seq(

    QueryDef(
      "i01_jsonl_roundtrip",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i01")
        Catalog.t(s, d, "documents").write.mode("overwrite").json(out)
        s.read.schema(docSchema).json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    QueryDef(
      "i02_csv_roundtrip",
      Some(s"""SELECT source, count(*) AS n_docs,
              |  CAST(sum(${duckWordHash("text")}) AS BIGINT) AS text_hash,
              |  CAST(sum(${duckWordHash("(lang || ', ' || source)")}) AS BIGINT) AS tag_hash
              |FROM documents GROUP BY source""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i02")
        // `tag` embeds the delimiter, so the writer MUST quote it and the
        // reader MUST unquote it for tag_hash to survive.
        // whitespace preservation is opt-in in Spark's univocity CSV
        // writer/parser (both trim trailing whitespace by default) —
        // the engine's CSV contract is byte-preserving fields
        Catalog.t(s, d, "documents")
          .withColumn("tag", concat_ws(", ", col("lang"), col("source")))
          .write.mode("overwrite").option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false").csv(out)
        val back = s.read
          .schema(docSchema.add(StructField("tag", StringType)))
          .option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false").csv(out)
        back.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"),
            sum(expr("graft_polyhash32(tag)")).as("tag_hash"))
      }),

    QueryDef(
      "i04_orc_roundtrip",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i04")
        // ORC: the second columnar lake format (predicate pushdown,
        // column pruning, splittable stripes — same scan properties the
        // parquet paths rely on)
        Catalog.t(s, d, "documents").write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    // Raw media files on disk -> binary column: `binaryFile` is the
    // ingest path for image/audio corpora that arrive as loose files.
    // One payload file per sampled doc (UTF-8 text bytes standing in for
    // media, same stub contract as the m-series); the re-read joins
    // path-derived ids back to metadata and folds the payload bytes.
    // 100 TB stance: loose small files are a driver-side listing + task
    // scheduling tax — this op is the INGEST step whose output should
    // immediately be compacted into m05-style byte-capped shards; the
    // sample cap here (1 in 10) keeps the gate honest about that.
    QueryDef(
      "i05_binary_ingest",
      Some("""WITH s AS (SELECT * FROM documents WHERE doc_id % 10 = 0)
             |SELECT lang, count(*) AS n_files,
             |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
             |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes
             |FROM s GROUP BY lang""".stripMargin),
      (s, d) => {
        val out = TempDirs.create("graft-i05")
        val sample = Catalog.t(s, d, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("lang"), col("text"))
        sample.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .collect() // bounded: 1-in-10 sample, fixture-construction step
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"doc_${r.getLong(0)}.bin"),
              r.getAs[Array[Byte]]("payload"))
          }
        val files = s.read.format("binaryFile").load(out)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
              .cast("long").as("doc_id"),
            col("content"))
        // sum_chars from the metadata side (codepoints), sum_bytes from
        // the re-read payload (UTF-8 octets) — non-ASCII text keeps the
        // two distinct, so a lossy binary roundtrip cannot hash-match
        files.join(sample.select("doc_id", "lang", "text"), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_files"),
            sum(length(col("text"))).as("sum_chars"),
            sum(expr("octet_length(content)")).as("sum_bytes"))
      }),

    // Small-file compaction (the lake OPTIMIZE primitive): a 64-part
    // sliver-file layout is rewritten into ceil(bytes/target) files.
    // At 100 TB the sliver tax is real — driver listing time, task
    // scheduling overhead, and per-file footer reads all scale with
    // file COUNT, not bytes — and ingest jobs (st15's arrival loop,
    // i05's loose files) produce exactly this shape. Fidelity is the
    // same per-lang hash; the file-count contract is spec-asserted.
    QueryDef(
      "i06_compact_small_files",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val sliver = TempDirs.create("graft-i06-sliver")
        val compact = TempDirs.create("graft-i06-compact")
        Catalog.t(s, d, "documents")
          .repartition(64).write.mode("overwrite").parquet(sliver)
        val n = compactionTargetParts(s, sliver, targetBytes = 4L << 20)
        s.read.parquet(sliver)
          .repartition(n).write.mode("overwrite").parquet(compact)
        s.read.parquet(compact)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    // Schema evolution: half the corpus written with the ORIGINAL
    // 3-column schema, half with the evolved 5-column one, read back
    // as ONE relation via mergeSchema — missing columns surface as
    // nulls, never as errors. The 100 TB reality: corpora accrete
    // columns over years of ingest; a reader that can't span schema
    // versions forces a full rewrite per evolution. (mergeSchema costs
    // a footer read per file at planning — enable it per-read, not
    // globally.)
    QueryDef(
      "i07_schema_evolution",
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS with_source,
             |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
             |    AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang""".stripMargin),
      (s, d) => {
        val root = TempDirs.create("graft-i07")
        val docs = Catalog.t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.mode("overwrite").parquet(s"$root/v1")
        docs.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$root/v2")
        s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("source").isNotNull, 1).otherwise(0))
              .cast("long").as("with_source"),
            sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
      }),

    QueryDef(
      "i03_partitioned_lake",
      Some("""SELECT lang, source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE lang IN ('en', 'de')
             |GROUP BY lang, source""".stripMargin),
      (s, d) => {
        val out = TempDirs.create("graft-i03")
        val docs = Catalog.t(s, d, "documents")
        docs.write.mode("overwrite").partitionBy("lang").parquet(out)
        // Pruned read: only the lang=en / lang=de directories are opened
        // (PartitionFilters; IngestSpec asserts the pruned scan). The
        // schema is EXPLICIT — same stance as the JSONL reader: an empty
        // lake (a day with no data) has no files to infer from, and a
        // 100 TB lake shouldn't pay a footer-sampling pass anyway.
        s.read.schema(docs.schema).parquet(out)
          .filter(col("lang").isin("en", "de"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      }),

    // Bucketed-table co-located join: both sides pre-hashed into the
    // SAME bucket layout on the join key at WRITE time, so the join
    // needs no Exchange on either side at READ time — the other 100 TB
    // layout primitive next to i03's partition pruning. A fact table
    // written bucketed once is joined shuffle-free by every downstream
    // consumer; `sortBy` inside buckets additionally lets the
    // sort-merge join skip its sort when parts align. The `merge` hint
    // pins the sort-merge path (at oracle scale AQE would otherwise
    // broadcast the small side and hide the layout win; IngestSpec
    // asserts the exchange-free plan).
    QueryDef(
      "i08_bucketed_join",
      Some("""SELECT o_orderpriority, cast(count(*) as bigint) AS n_lines,
             |  cast(sum(cast(round(l_extendedprice * 100) as bigint)) as double) / 100
             |    AS revenue
             |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = TempDirs.create("graft-i08")
        val suffix = math.abs(d.hashCode)
        val ot = s"graft_i08_orders_$suffix"
        val lt = s"graft_i08_lineitem_$suffix"
        Catalog.t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$root/orders").saveAsTable(ot)
        Catalog.t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$root/lineitem").saveAsTable(lt)
        s.table(ot).hint("merge")
          .join(s.table(lt), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            (sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
              .cast("double") / 100).as("revenue"))
      }),

    // Zone-map file skipping: lineitem laid out range-partitioned and
    // sorted on ship time, a per-file (min, max) manifest built from
    // PARQUET FOOTER STATISTICS ONLY (no data pages are read — the
    // manifest costs one footer fetch per file), and a one-year
    // predicate planned against the manifest so non-overlapping files
    // are never opened. This is the high-cardinality counterpart to
    // i03's directory pruning — the min/max skipping that Iceberg/Delta
    // manifests and ORC/parquet row-group indexes all implement — and
    // the layout primitive that turns a 100 TB time-range query into a
    // handful-of-files read. The residual filter stays on the pruned
    // scan (zone maps admit false positives at file edges, never false
    // negatives). Manifest size is bounded by file count, the same
    // contract as compaction's listing.
    QueryDef(
      "i09_zone_map_skipping",
      Some(s"""WITH t AS (SELECT l_returnflag,
             |    epoch_ms(cast(l_shipdate as timestamp)) AS ms,
             |    cast(round(l_extendedprice * 100) as bigint) AS ep100
             |  FROM lineitem)
             |SELECT l_returnflag, count(*) AS n_rows,
             |  cast(sum(ep100) as bigint) AS sum_ep100
             |FROM t WHERE ms >= $ZmLo AND ms < $ZmHi
             |GROUP BY l_returnflag""".stripMargin),
      (s, d) => {
        val out = TempDirs.create("graft-i09")
        Catalog.t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr("unix_millis(cast(l_shipdate as timestamp))").as("ms"),
            expr("cast(round(l_extendedprice * 100) as bigint)").as("ep100"))
          .repartitionByRange(8, col("ms"))
          .sortWithinPartitions(col("ms"))
          .write.mode("overwrite").parquet(out)
        val manifest = zoneMapManifest(s, out, "ms")
        val kept = manifest.collect {
          case (path, mn, mx) if mx >= ZmLo && mn < ZmHi => path
        }
        val schema = StructType(Seq(
          StructField("l_returnflag", StringType),
          StructField("ms", LongType), StructField("ep100", LongType)))
        val pruned =
          if (kept.isEmpty) s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else s.read.schema(schema).parquet(kept: _*)
        pruned
          .filter(col("ms") >= ZmLo && col("ms") < ZmHi)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"), sum("ep100").as("sum_ep100"))
      }),

    // Malformed-record audit: a real crawl delivery always contains
    // broken lines, and the ingest contract is ACCOUNT, don't abort —
    // PERMISSIVE mode parses what it can, quarantines the rest into the
    // corrupt-record column, and this report says how much of each
    // shipment was lost. The corpus roundtrips through JSONL with a
    // deterministically-injected corrupt part file (3 broken lines);
    // corrupt rows surface with NULL fields and a populated
    // `_corrupt_record`, grouped here as the NULL-lang bucket. Explicit
    // schema as always — inference over a corrupt shipment is both a
    // wasted pass and a crash risk.
    QueryDef(
      "i10_malformed_audit",
      Some("""SELECT lang, count(*) AS n_rows, cast(0 as bigint) AS n_corrupt
             |FROM documents GROUP BY lang
             |UNION ALL
             |SELECT NULL, 3, 3""".stripMargin),
      (s, d) => {
        val out = TempDirs.create("graft-i10")
        Catalog.t(s, d, "documents").select("doc_id", "lang", "text")
          .write.mode("overwrite").json(out)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "part-corrupt.json"),
          "{broken\n[not, a, doc\n{\"doc_id\": }\n")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("text", StringType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
              .as("n_corrupt"))
      }),

    // SCD2 dimension merge (the lakehouse MERGE INTO pattern): apply a
    // derived updates batch to the customer dimension with
    // slowly-changing-dimension type-2 semantics — a changed attribute
    // CLOSES the current version (valid_to = batch date) and OPENS a
    // new one; unchanged rows carry through. The merged dimension then
    // roundtrips through a parquet write + re-read (no coalesce: a
    // 100 TB dimension rewrite streams from every task) so the gate
    // proves the full sink→source path, not just the join. Plan shape:
    // ONE co-keyed shuffle join (both sides large at scale — no
    // broadcast assumption), narrow classification, and a two-row
    // explode for changed keys; zero windows. The updates batch here is
    // itself derived (order-count tier per customer) so the whole query
    // is oracle-checkable from the source tables.
    QueryDef(
      "i11_scd2_merge",
      Some("""WITH upd AS (SELECT o_custkey AS c_custkey,
             |    CASE WHEN count(*) >= 10 THEN 'BULK' ELSE 'ACTIVE' END
             |      AS new_segment
             |  FROM orders GROUP BY 1),
             |j AS (SELECT c.c_custkey, c.c_mktsegment, u.new_segment
             |  FROM customer c LEFT JOIN upd u USING (c_custkey)),
             |carry AS (SELECT c_custkey, c_mktsegment AS segment,
             |    TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
             |    TIMESTAMP '9999-12-31 00:00:00' AS valid_to, true AS is_current,
             |    'carry' AS action
             |  FROM j WHERE new_segment IS NULL
             |    OR new_segment = c_mktsegment),
             |closed AS (SELECT c_custkey, c_mktsegment AS segment,
             |    TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
             |    TIMESTAMP '2026-01-01 00:00:00' AS valid_to, false AS is_current,
             |    'close' AS action
             |  FROM j WHERE new_segment IS NOT NULL
             |    AND new_segment <> c_mktsegment),
             |opened AS (SELECT c_custkey, new_segment AS segment,
             |    TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
             |    TIMESTAMP '9999-12-31 00:00:00' AS valid_to, true AS is_current,
             |    'open' AS action
             |  FROM j WHERE new_segment IS NOT NULL
             |    AND new_segment <> c_mktsegment)
             |SELECT * FROM carry UNION ALL SELECT * FROM closed
             |UNION ALL SELECT * FROM opened""".stripMargin),
      (s, d) => {
        val out = TempDirs.create("graft-i11")
        val merged = scd2Merge(
          Catalog.t(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          Catalog.t(s, d, "orders")
            .groupBy(col("o_custkey").as("c_custkey"))
            .agg(count(lit(1)).as("n_orders"))
            .select(col("c_custkey"),
              when(col("n_orders") >= 10, "BULK").otherwise("ACTIVE")
                .as("new_segment")))
        merged.write.mode("overwrite").parquet(out)
        // explicit schema: an empty dimension writes no part files and a
        // 100 TB re-read shouldn't footer-sample anyway (i03's stance)
        s.read.schema(merged.schema).parquet(out)
      }),

    // Gzip-compressed JSONL: how compressed web-corpus deliveries
    // actually arrive. gzip parts are NOT line-splittable, so read
    // parallelism is capped at ONE TASK PER FILE — the contract is
    // therefore "many bounded-size .json.gz parts" (here: the write
    // parallelism of the source relation), and a delivery arriving as
    // one giant .gz is re-sharded at ingest before anything else runs.
    // Same explicit-schema + fidelity-hash gate as i01: compression
    // must change bytes on disk, never the relation.
    QueryDef(
      "i12_gzip_jsonl",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i12")
        Catalog.t(s, d, "documents").write.mode("overwrite")
          .option("compression", "gzip").json(out)
        s.read.schema(docSchema).json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    // i13: CDC changelog apply — the type-1 counterpart to i11's SCD2:
    // a derived upsert/delete batch (per active customer: version =
    // order count, new balance = exact order cents; every 7th key a
    // tombstone) lands as a JSONL delivery (explicit schema, i01's
    // contract) and merges into the base dimension. Apply = ONE
    // co-keyed left join: tombstones drop, upserts replace balance and
    // stamp their version, untouched keys carry version 0. No window,
    // no second pass; at lake scale this is the MERGE a Delta/Iceberg
    // writer compiles to.
    QueryDef(
      "i13_cdc_apply",
      Some("""WITH ch AS (SELECT o_custkey AS key,
             |    cast(count(*) as bigint) AS version,
             |    CASE WHEN o_custkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
             |    cast(sum(cast(round(o_totalprice * 100) as bigint))
             |      as bigint) AS new_cents
             |  FROM orders GROUP BY 1)
             |SELECT c.c_custkey,
             |  coalesce(ch.version, 0) AS version,
             |  CASE WHEN ch.key IS NULL
             |    THEN cast(round(c.c_acctbal * 100) as bigint)
             |    ELSE ch.new_cents END AS balance_cents,
             |  CASE WHEN ch.key IS NULL THEN 'kept'
             |    ELSE 'updated' END AS action
             |FROM customer c LEFT JOIN ch ON c.c_custkey = ch.key
             |WHERE ch.op IS NULL OR ch.op <> 'D'""".stripMargin),
      (s, d) => {
        val changes = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey").as("key"))
          .agg(count(lit(1)).as("version"),
            sum(expr("cast(round(o_totalprice * 100) as bigint)"))
              .as("new_cents"))
          .withColumn("op",
            when(col("key") % 7 === 0, "D").otherwise("U"))
        // the changelog is a real file delivery: JSONL out, explicit
        // schema back in (schema inference is a full extra corpus pass)
        val out = TempDirs.create("graft-i13")
        changes.write.mode("overwrite").json(out)
        val chSchema = StructType(Seq(
          StructField("key", LongType),
          StructField("version", LongType),
          StructField("new_cents", LongType),
          StructField("op", StringType)))
        val ch = s.read.schema(chSchema).json(out)
        Catalog.t(s, d, "customer")
          .join(ch, col("c_custkey") === col("key"), "left")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("c_custkey"),
            coalesce(col("version"), lit(0L)).as("version"),
            when(col("key").isNull,
              expr("cast(round(c_acctbal * 100) as bigint)"))
              .otherwise(col("new_cents")).as("balance_cents"),
            when(col("key").isNull, "kept").otherwise("updated")
              .as("action"))
      }),

    // i14: partition-layout evolution — the lake starts day-partitioned
    // (ingest granularity), then rewrites to month partitions (query
    // granularity) when small files accumulate; the aggregate over the
    // EVOLVED lake must match the source exactly, proving no rows were
    // lost or duplicated across the two layout rewrites. Month comes
    // back as a partition-directory string, so the final scan prunes on
    // it for free (i03's PartitionFilters contract); at 100 TB the
    // evolution is a one-time rewrite that turns thousands of daily
    // dirs into dozens of monthly ones and every downstream monthly
    // report into a pruned scan.
    QueryDef(
      "i14_partition_evolution",
      Some("""SELECT strftime(cast(ts as timestamp), '%Y-%m') AS month,
             |  count(*) AS n_rows,
             |  cast(sum(cast(round(value * 100) as bigint)) as bigint)
             |    AS value_cents
             |FROM events GROUP BY 1""".stripMargin),
      (s, d) => {
        val e = Catalog.t(s, d, "events")
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        val daily = TempDirs.create("graft-i14-daily")
        e.write.mode("overwrite").partitionBy("day").parquet(daily)
        val monthly = TempDirs.create("graft-i14-monthly")
        // explicit schemas on both re-reads: an empty day/lake writes
        // zero partition dirs and schema inference would die (i01's
        // pinned-schema contract)
        val monthlyDf = s.read.schema(e.schema).parquet(daily)
          .withColumn("month", date_format(col("ts"), "yyyy-MM"))
          .drop("day")
        monthlyDf.write.mode("overwrite").partitionBy("month").parquet(monthly)
        s.read.schema(monthlyDf.schema).parquet(monthly)
          .groupBy(col("month"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("cast(round(value * 100) as bigint)"))
              .cast("long").as("value_cents"))
      }),

    // Avro: the standard row-oriented lake/streaming interchange format
    // (Kafka payloads, schema-registry pipelines). Spark 4 bundles the
    // `avro` datasource in spark-sql, so this is the same
    // write-read-aggregate fidelity contract as i01/i02/i04 — the
    // per-lang polynomial text hash shifts on any encode defect. Avro is
    // row-major (no column pruning / predicate pushdown at the scan),
    // which is exactly why the i03/i06 lake paths keep parquet for
    // analytic reads and this op exists only as the INTERCHANGE
    // roundtrip.
    QueryDef(
      "i15_avro_roundtrip",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i15")
        // the short alias "avro" is reserved for the external module by
        // Spark's lookup even though the format classes ship inside
        // spark-sql — the fully-qualified FileFormat name loads them
        val avro = "org.apache.spark.sql.avro.AvroFileFormat"
        Catalog.t(s, d, "documents").write.mode("overwrite")
          .format(avro).save(out)
        s.read.schema(docSchema).format(avro).load(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    // XML: the legacy-corpus interchange format (Wikipedia dumps, feed
    // archives, library/OCR metadata). Spark 4 bundles spark-xml as a
    // built-in FileFormat; escaping (&, <, quotes inside text) is the
    // fidelity hazard the polynomial hash contract catches — a CDATA or
    // entity defect shifts text_hash for the affected lang group.
    QueryDef(
      "i16_xml_roundtrip",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i16")
        Catalog.t(s, d, "documents").write.mode("overwrite")
          .option("rowTag", "doc").format("xml").save(out)
        s.read.schema(docSchema).option("rowTag", "doc")
          .format("xml").load(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    // i17: fixed-width records — the mainframe/COBOL-era interchange
    // layout financial and government feeds still arrive in. No
    // delimiters to escape: every field is a byte range, so the writer
    // is one format_string projection and the reader is substring +
    // cast over a line-splittable text scan (byte-range parallelism,
    // like JSONL). The roundtrip proves zero-padded numerics and the
    // 1-char status survive; the aggregate must equal the source
    // table's exactly.
    QueryDef(
      "i17_fixed_width",
      Some("""SELECT o_orderstatus AS status, count(*) AS n_orders,
             |  cast(sum(o_custkey) as bigint) AS custkey_sum,
             |  cast(sum(cast(round(o_totalprice * 100) as bigint))
             |    as bigint) AS sum_cents
             |FROM orders GROUP BY 1""".stripMargin),
      (s, d) => {
        val out = TempDirs.create("graft-i17")
        Catalog.t(s, d, "orders")
          .select(format_string("%012d%012d%s%014d%s",
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            expr("cast(round(o_totalprice * 100) as bigint)"),
            date_format(col("o_orderdate"), "yyyy-MM-dd")).as("value"))
          .write.mode("overwrite").text(out)
        s.read.text(out)
          .select(substring(col("value"), 13, 12).cast("long")
              .as("o_custkey"),
            substring(col("value"), 25, 1).as("status"),
            substring(col("value"), 26, 14).cast("long").as("cents"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_custkey")).cast("long").as("custkey_sum"),
            sum(col("cents")).cast("long").as("sum_cents"))
      }),

    // i18: JSON-ARRAY shards — the REST bulk-export payload shape (one
    // JSON array document per shard), as opposed to i01's
    // line-delimited JSONL. `multiLine=true` is the forced read mode:
    // a whole-file parse, ONE task per shard — which is exactly why the
    // writer controls shard count (partitionBy on the shard key, one
    // bounded array per directory) and why a 100 TB pipeline converts
    // this format to JSONL/parquet at the lake boundary instead of
    // scanning it repeatedly. Same fidelity-hash contract as i01: any
    // escaping defect in the array assembly shifts text_hash.
    QueryDef(
      "i18_json_array_roundtrip",
      Some(fidelityOracle),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val out = TempDirs.create("graft-i18")
        Catalog.t(s, d, "documents")
          .groupBy((col("doc_id") % 16).as("shard"))
          .agg(to_json(collect_list(struct(col("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))).as("value"))
          .write.partitionBy("shard").mode("overwrite").text(out)
        s.read.schema(docSchema).option("multiLine", "true").json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(expr("graft_polyhash32(text)")).as("text_hash"))
      }),

    // i19: resumable ingest — file-granularity exactly-once for a 100 TB
    // backfill. A lake of 8 document shards is ingested in two
    // "sessions": session 0 lands shards 0–3 and records a MANIFEST row
    // per shard (shard_id, n_rows, session); session 1 (the restart)
    // lists the lake, ANTI-JOINS the manifest to find unprocessed
    // shards, ingests only those, and appends its manifest rows. The
    // skip decision is a keyed anti-join on shard_id — O(|manifest|),
    // never a re-read of landed data — and re-running session 1 would
    // ingest nothing (the require proves the manifest covers the lake
    // exactly once). Output is the final manifest; the oracle recomputes
    // per-shard counts and the session split from the documents table,
    // so the hash gate proves no shard was skipped, duplicated, or
    // double-ingested.
    QueryDef(
      "i19_resumable_ingest",
      Some("""SELECT doc_id % 8 AS shard_id, count(*) AS n_rows,
             |  CASE WHEN doc_id % 8 < 4 THEN 0 ELSE 1 END AS session
             |FROM documents GROUP BY 1, 3""".stripMargin),
      (s, d) => {
        val lake = TempDirs.create("graft-i19-lake")
        val landed = TempDirs.create("graft-i19-landed")
        val manifestDir = TempDirs.create("graft-i19-manifest")
        val docs = Catalog.t(s, d, "documents")
          .withColumn("shard_id", col("doc_id") % 8)
        docs.write.partitionBy("shard_id").mode("overwrite").parquet(lake)
        // explicit schemas: an empty corpus writes a part-less lake /
        // manifest dir, which schema inference would refuse to read
        val lakeSchema = docs.schema
        val manifestSchema = StructType(Seq(
          StructField("shard_id", LongType),
          StructField("n_rows", LongType),
          StructField("session", org.apache.spark.sql.types.IntegerType)))
        def readLake = s.read.schema(lakeSchema).parquet(lake)
          .withColumn("shard_id", col("shard_id").cast("long"))
        def readManifest = s.read.schema(manifestSchema).parquet(manifestDir)
        def shardsOnDisk = readLake.select("shard_id").distinct()
        def ingest(shards: org.apache.spark.sql.DataFrame, session: Int): Unit = {
          val todo = readLake.join(shards, Seq("shard_id"), "left_semi")
          todo.write.mode("append").parquet(landed)
          todo.groupBy("shard_id").agg(count(lit(1)).as("n_rows"))
            .withColumn("session", lit(session))
            .write.mode("append").parquet(manifestDir)
        }
        // session 0: the operator lands the first half of the lake
        ingest(shardsOnDisk.filter(col("shard_id") < 4), 0)
        // session 1 (restart): list ∖ manifest = the unprocessed set
        val remaining = shardsOnDisk
          .join(readManifest.select("shard_id"), Seq("shard_id"), "left_anti")
        ingest(remaining, 1)
        // exactly-once proof, METADATA-sized (the operator's claim is
        // that restart cost never touches landed data, so its own proof
        // must not either): a third session would find nothing to do
        // (anti-join empty) and no shard was landed twice (no duplicate
        // manifest rows). Row-level reconciliation against the source —
        // a full scan — is the law spec's job, and the oracle hash gate
        // proves the per-shard counts independently.
        require(shardsOnDisk
          .join(readManifest.select("shard_id"), Seq("shard_id"), "left_anti")
          .isEmpty, "manifest does not cover the lake after restart")
        require(readManifest.groupBy("shard_id").count()
          .filter(col("count") > 1).isEmpty,
          "a shard was ingested more than once")
        readManifest.select(col("shard_id"), col("n_rows"), col("session"))
      }))

  /** SCD2 type-2 merge of `updates(c_custkey, new_segment)` into
    * `base(c_custkey, c_mktsegment)`: changed keys emit a closed old
    * version + an open new one, everything else carries through
    * current. Epoch/batch dates are fixed so the output is a pure
    * function of its inputs.
    */
  def scd2Merge(base: org.apache.spark.sql.DataFrame,
      updates: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val j = base.join(updates, Seq("c_custkey"), "left")
    val changed = col("new_segment").isNotNull &&
      col("new_segment") =!= col("c_mktsegment")
    // Each row expands to its SCD2 version rows in one narrow
    // explode-of-struct-array — no second pass over the join.
    j.select(col("c_custkey"), explode(when(changed, expr(
        """array(
          |  named_struct('segment', c_mktsegment,
          |    'valid_from', TIMESTAMP '2020-01-01 00:00:00',
          |    'valid_to', TIMESTAMP '2026-01-01 00:00:00',
          |    'is_current', false, 'action', 'close'),
          |  named_struct('segment', new_segment,
          |    'valid_from', TIMESTAMP '2026-01-01 00:00:00',
          |    'valid_to', TIMESTAMP '9999-12-31 00:00:00',
          |    'is_current', true, 'action', 'open'))""".stripMargin))
      .otherwise(expr(
        """array(named_struct('segment', c_mktsegment,
          |  'valid_from', TIMESTAMP '2020-01-01 00:00:00',
          |  'valid_to', TIMESTAMP '9999-12-31 00:00:00',
          |  'is_current', true, 'action', 'carry'))""".stripMargin)))
      .as("v"))
      .select(col("c_custkey"), col("v.segment").as("segment"),
        col("v.valid_from").as("valid_from"),
        col("v.valid_to").as("valid_to"),
        col("v.is_current").as("is_current"), col("v.action").as("action"))
  }

  /** i09 predicate window: [1996-01-01, 1997-01-01) as epoch millis. */
  private val ZmLo: Long =
    java.time.LocalDate.of(1996, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli
  private val ZmHi: Long =
    java.time.LocalDate.of(1997, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli

  /** Per-file (path, min, max) zone map for an int64 column, from
    * parquet FOOTER metadata only — no row groups are decoded. Bounded
    * by file count (the write parallelism), like compaction's listing;
    * at lake scale this manifest is itself a table maintained
    * incrementally at write time, but its construction cost per file is
    * identical: one footer.
    */
  def zoneMapManifest(s: org.apache.spark.sql.SparkSession, dir: String,
      column: String): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf))
        try {
          val stats = rd.getFooter.getBlocks.asScala.flatMap { b =>
            b.getColumns.asScala
              .filter(_.getPath.toDotString == column)
              .map(_.getStatistics)
          }
          val mins = stats.map(_.genericGetMin.asInstanceOf[Long])
          val maxs = stats.map(_.genericGetMax.asInstanceOf[Long])
          (st.getPath.toString,
            if (mins.isEmpty) Long.MaxValue else mins.min,
            if (maxs.isEmpty) Long.MinValue else maxs.max)
        } finally rd.close()
      }
  }

  /** The bucketed join relation of i08 without the final aggregate —
    * used by IngestSpec to pin the exchange-free plan shape. */
  def bucketedJoinPlanProbe(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val suffix = math.abs(d.hashCode)
    s.table(s"graft_i08_orders_$suffix").hint("merge")
      .join(s.table(s"graft_i08_lineitem_$suffix"),
        col("l_orderkey") === col("o_orderkey"))
  }
}
