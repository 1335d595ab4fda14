package graft.state

import graft.{Catalog, QueryDef, TempDirs}
import graft.core.codec.{ByteWriter, Codecs, KeyGroups}
import graft.core.codec.Codecs.{DoubleCodec, ListCodec, LongCodec, StringCodec}
import graft.core.meta.{Identifiers, KeyedFileHandle, MetadataIO,
  OperatorStateMeta, SavepointMeta, StateKind, StateMeta}
import graft.core.scan.RocksDbCheckpoints

import org.apache.spark.sql.functions._

/** Driver-gate queries exercising the savepoint engine end-to-end with a
  * relational oracle: state content is DERIVED from the driver's parquet
  * tables, pushed through a full savepoint write → DSv2 scan → typed
  * read cycle, and the final DataFrame must hash-match the plain SQL the
  * state pipeline implements. This makes the byte formats, key-group
  * sharding and codecs part of the DuckDB-verified surface.
  */
object StateQueries {

  def all: Seq[QueryDef] = Seq(

    // Savepoint bootstrap + scan roundtrip (S1-S10, P1, W1, W3, W7).
    QueryDef(
      "sp01_state_roundtrip",
      Some("SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey"),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("counts", parallelism = 4, maxParallelism = 128), "counts")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp01"))
        Savepoints.reader(s, meta, "counts")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // The reference's canonical pattern (README.md:143-148): state ⋈
    // external bootstrap data → summed → written back → re-read.
    QueryDef(
      "sp02_state_transform",
      Some("""SELECT o_custkey AS key,
             |  cast(count(*) + sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
             |       as bigint) AS cnt
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val orders = Catalog.t(s, d, "orders")
        val counts = orders.groupBy(col("o_custkey")).count().as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("counts", 4, 128), "counts")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp02a"))

        val state = Savepoints.reader(s, meta1, "counts")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "n")
        val delta = orders.filter(col("o_totalprice") > 150000)
          .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("extra"))
        val merged = state.join(delta, Seq("key"), "left")
          .select(col("key"), (col("n") + coalesce(col("extra"), lit(0L))).as("v"))
          .as[(Long, Long)]

        val meta2 = Savepoints.writer(s, meta1, "counts")
          .addValueState("Count", merged)
          .writeAll(TempDirs.create("graft-sp02b"))
        Savepoints.reader(s, meta2, "counts")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // REAL-Flink-layout roundtrip (S1/S3/S9/S10 bit-compat surface):
    // same shape as sp01 but the savepoint on disk is the Flink 1.7
    // dialect — Checkpoints-header `_metadata` (SavepointV2 body),
    // KeyedBackendSerializationProxy head on the state file, flag-bit
    // state-id runs, END_OF_KEY_GROUP marks, snappy-FRAMED compression,
    // and Flink `StringValue` string keys. The loader sniffs the magic,
    // so the read side runs the Flink decode path end-to-end.
    QueryDef(
      "sp06_flink_roundtrip",
      Some("""SELECT c_name AS key,
             |  cast(round(c_acctbal * 100) as bigint) AS cents
             |FROM customer""".stripMargin),
      (s, d) => {
        import s.implicits._
        val bal = Catalog.t(s, d, "customer")
          .select(col("c_name"),
            expr("cast(round(c_acctbal * 100) as bigint)").as("cents"))
          .as[(String, Long)]
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("flink-bal", parallelism = 4,
            maxParallelism = 128), "flink-bal")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(Codecs.FlinkStringCodec)
          .createNewValueState("Balance", bal, LongCodec)
          .writeAll(TempDirs.create("graft-sp06"))
        // load back through the magic-sniffing loader (drops the
        // in-memory meta: proves `_metadata` + proxy carry everything)
        val loaded = Savepoints.load(meta.basePath)
        Savepoints.reader(s, loaded, "flink-bal")
          .readValueStates[String, Long]("Balance")
          .toDF("key", "cents")
      }),

    // List-state roundtrip (P3/P4 + the ',' separated list layout):
    // quantities per order packed into list state, read back FLATTENED —
    // which must equal the plain projection of lineitem.
    QueryDef(
      "sp03_state_list_roundtrip",
      Some("SELECT l_orderkey AS key, l_quantity AS qty FROM lineitem"),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val lc = ListCodec(DoubleCodec)
        val packed = Catalog.t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(collect_list(col("l_quantity")).as("qs"))
          .as[(Long, Seq[Double])]
          .map { case (k, qs) =>
            StateQueries.listRow("Quantities", k, lc.toBytes(qs.toList), maxPar)
          }
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("lists", 4, maxPar), "lists")
          .withKeyCodec(LongCodec)
          .defineState(StateMeta("Quantities", StateKind.List, "list<double>"))
          .addKeyedStateRows(packed)
          .writeAll(TempDirs.create("graft-sp03"))
        Savepoints.reader(s, meta, "lists")
          .readListStateValues[Long, Double]("Quantities")
          .toDF("key", "qty")
      }),

    // Map-state roundtrip (P5 + per-entry null markers): per-customer
    // map orderstatus -> order count, read back as entries.
    QueryDef(
      "sp04_state_map_roundtrip",
      Some("""SELECT o_custkey AS key, o_orderstatus AS status,
             |  count(*) AS cnt FROM orders GROUP BY 1, 2""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val rows = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"))
          .as[(Long, String, Long)]
          .map { case (k, status, cnt) =>
            StateQueries.mapRow("StatusCounts", k, status, cnt, maxPar)
          }
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("maps", 4, maxPar), "maps")
          .withKeyCodec(LongCodec)
          .defineState(StateMeta("StatusCounts", StateKind.Map, "long", Some("string")))
          .addKeyedStateRows(rows)
          .writeAll(TempDirs.create("graft-sp04"))
        Savepoints.reader(s, meta, "maps")
          .readMapStates[Long, String, Long]("StatusCounts")
          .toDF("key", "status", "cnt")
      }),

    // Snapshot diff (the "validate / repair corrupted state" analytics
    // of README.md:41-44): per-customer counts at two points in time —
    // odd-key orders only, then all orders — written into two
    // savepoints and diffed per key. The oracle is the equivalent
    // full-outer join of the two aggregates.
    QueryDef(
      "sp07_savepoint_diff",
      Some("""WITH a AS (SELECT o_custkey AS key, count(*) AS v FROM orders
             |  WHERE o_orderkey % 2 = 1 GROUP BY o_custkey),
             |b AS (SELECT o_custkey AS key, count(*) AS v FROM orders
             |  GROUP BY o_custkey)
             |SELECT coalesce(a.key, b.key) AS key,
             |  a.v AS old_value, b.v AS new_value,
             |  CASE WHEN a.v IS NULL THEN 'added'
             |       WHEN b.v IS NULL THEN 'removed'
             |       WHEN a.v = b.v THEN 'same' ELSE 'changed' END AS status
             |FROM a FULL OUTER JOIN b ON a.key = b.key""".stripMargin),
      (s, d) => {
        import s.implicits._
        def snapshot(df: org.apache.spark.sql.Dataset[(Long, Long)],
            tag: String): SavepointMeta = Savepoints
          .writer(s, Savepoints.bootstrap("diff-op", 4, 128), "diff-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", df, LongCodec)
          .writeAll(TempDirs.create(s"graft-sp07-$tag"))
        val orders = Catalog.t(s, d, "orders")
        val before = snapshot(orders.filter(col("o_orderkey") % 2 === 1)
          .groupBy(col("o_custkey")).count().as[(Long, Long)], "a")
        val after = snapshot(orders
          .groupBy(col("o_custkey")).count().as[(Long, Long)], "b")
        StateDiff.valueStates[Long, Long](s, before, after, "diff-op", "Count")
      }),

    // TTL expiry rewrite (state GC): per-customer counts written as
    // TTL-wrapped values stamped with the customer's last order time;
    // StateMaintenance.expireTtl drops entries last touched before the
    // cutoff (885 of 1500 keys survive at sf0.01 - a real deletion) (byte-identical passthrough for survivors) and the TTL
    // auto-unwrap read (P9/C9) of the REWRITTEN savepoint must equal
    // the HAVING-filtered SQL aggregate.
    QueryDef(
      "sp08_ttl_expiry",
      Some("""SELECT o_custkey AS key, count(*) AS cnt FROM orders
             |GROUP BY o_custkey
             |HAVING max(o_orderdate) >= timestamp '2001-01-01'""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val cutoffMs = java.time.Instant.parse("2001-01-01T00:00:00Z").toEpochMilli
        val rows = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"),
            // o_orderdate is TIMESTAMP_NTZ; the session tz is UTC, so
            // the cast reads the stored ms verbatim (DuckDB parity)
            expr("unix_millis(cast(max(o_orderdate) as timestamp))").as("ts"))
          .as[(Long, Long, Long)]
          .map { case (k, cnt, ts) =>
            StateQueries.ttlValueRow("Count", k, ts, cnt, maxPar)
          }
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("ttl-op", 4, maxPar), "ttl-op")
          .withKeyCodec(LongCodec)
          .defineState(StateMeta("Count", StateKind.Value, "ttl<long>"))
          .addKeyedStateRows(rows)
          .writeAll(TempDirs.create("graft-sp08a"))
        val meta2 = StateMaintenance.expireTtl(
          s, meta1, "ttl-op", "Count", cutoffMs, TempDirs.create("graft-sp08b"))
        Savepoints.reader(s, meta2, "ttl-op")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // W9 through the hash gate on the FLINK dialect: a savepoint written
    // at maxParallelism 128 is rescaled to (16, 512) — every key
    // re-assigns to a new key group, prefixes widen to 2 bytes, subtask
    // split boundaries move — then magic-sniff loaded and typed-read.
    // The oracle never changes: rescaling must preserve content exactly.
    QueryDef(
      "sp09_rescale",
      Some("SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey"),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("rescale-op", parallelism = 4,
            maxParallelism = 128), "rescale-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp09a"))
        val rows = Savepoints.reader(s, Savepoints.load(meta1.basePath), "rescale-op")
          .getAllUnreadKeyedStateRows
        val meta2 = Savepoints.writer(s, Savepoints.load(meta1.basePath), "rescale-op")
          .addKeyedStateRows(rows)
          .withParallelism(16, 512)
          .writeAll(TempDirs.create("graft-sp09b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "rescale-op")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // W9 in the DOWN direction: consolidation onto a smaller cluster
    // (512 key groups / 2-byte prefixes → 64 key groups / 1-byte
    // prefixes). The write path recomputes every key group from the
    // raw key bytes under the NEW maxParallelism, so shrink is the
    // same job as sp09's grow — including the prefix-width change the
    // C5 rule implies. Oracle: the state's defining SQL, unchanged.
    QueryDef(
      "sp18_rescale_down",
      Some("SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey"),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("shrink-op", parallelism = 16,
            maxParallelism = 512), "shrink-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp18a"))
        val rows = Savepoints.reader(s, Savepoints.load(meta1.basePath), "shrink-op")
          .getAllUnreadKeyedStateRows
        val meta2 = Savepoints.writer(s, Savepoints.load(meta1.basePath), "shrink-op")
          .addKeyedStateRows(rows)
          .withParallelism(2, 64)
          .writeAll(TempDirs.create("graft-sp18b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "shrink-op")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // S8/S11 through the hash gate: NON-KEYED broadcast state written
    // in the Flink dialect, magic-sniff loaded, projected back to rows.
    // The driver-side model is the reference's own contract (non-keyed
    // state is "completely restored in-memory"); the 25-row nation dim
    // is exactly the broadcast-rule-table shape this state serves.
    QueryDef(
      "sp10_broadcast_state",
      Some("SELECT n_nationkey AS key, n_name AS name FROM nation"),
      (s, d) => {
        import s.implicits._
        val pairs = Catalog.t(s, d, "nation")
          .select(col("n_nationkey").cast("int"), col("n_name"))
          .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("bc-op", parallelism = 2,
            maxParallelism = 128), "bc-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .transformNonKeyedState((_, b) =>
            BackendStates.withBroadcastState(b, "nations", pairs)(
              graft.core.codec.Codecs.IntCodec, Codecs.FlinkStringCodec))
          .writeAll(TempDirs.create("graft-sp10"))
        val op = Savepoints.load(meta.basePath).operator("bc-op")
        val back = BackendStates.broadcastState[Int, String](
          op.nonKeyed(0), "nations")(
          graft.core.codec.Codecs.IntCodec, Codecs.FlinkStringCodec)
        back.toSeq.toDF("key", "name")
          .select(col("key").cast("long").as("key"), col("name"))
      }),

    // S8/W9 UNION-list state through the hash gate: non-keyed union
    // state written split across 2 subtasks, redistributed through a
    // 2→3 rescale cycle (union entries gather so every restoring
    // subtask re-reads the full set), and read back complete. Oracle =
    // the source projection: redistribution must lose nothing.
    QueryDef(
      "sp21_union_state",
      Some("SELECT s_suppkey AS elem FROM supplier"),
      (s, d) => {
        import s.implicits._
        val keys = Catalog.t(s, d, "supplier")
          .select(col("s_suppkey")).as[Long].collect().toSeq.sorted
        // max(...,1): grouped(0) throws — an empty source table must
        // still produce a valid (empty) list state per subtask
        val halves = keys.grouped(math.max((keys.size + 1) / 2, 1)).toSeq
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("un-op", 2, 128), "un-op")
          .transformNonKeyedState((i, b) =>
            BackendStates.withListState(b, "ids", halves.lift(i).getOrElse(Seq.empty),
              mode = graft.core.meta.ListStateMode.Union)(LongCodec))
          .writeAll(TempDirs.create("graft-sp21a"))
        val meta2 = Savepoints
          .writer(s, Savepoints.load(meta1.basePath), "un-op")
          .withParallelism(3, 128) // non-keyed-only op: metadata-only rescale
          .writeAll(TempDirs.create("graft-sp21b"))
        val restored = Savepoints.load(meta2.basePath).operator("un-op")
        BackendStates.unionListState[Long](restored.nonKeyed(0), "ids")(LongCodec)
          .toDF("elem")
      }),

    // The SPLIT-DISTRIBUTE companion of sp21: per-subtask list state
    // dealt round-robin across a 2→3 rescale; no element may be lost
    // or duplicated, so the concatenation over ALL new subtasks must
    // equal the source projection exactly.
    QueryDef(
      "sp22_split_list_state",
      Some("SELECT s_suppkey AS elem FROM supplier"),
      (s, d) => {
        import s.implicits._
        val keys = Catalog.t(s, d, "supplier")
          .select(col("s_suppkey")).as[Long].collect().toSeq.sorted
        // max(...,1): grouped(0) throws — an empty source table must
        // still produce a valid (empty) list state per subtask
        val halves = keys.grouped(math.max((keys.size + 1) / 2, 1)).toSeq
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("sd-op", 2, 128), "sd-op")
          .transformNonKeyedState((i, b) =>
            BackendStates.withListState(b, "ids",
              halves.lift(i).getOrElse(Seq.empty))(LongCodec))
          .writeAll(TempDirs.create("graft-sp22a"))
        val meta2 = Savepoints
          .writer(s, Savepoints.load(meta1.basePath), "sd-op")
          .withParallelism(3, 128)
          .writeAll(TempDirs.create("graft-sp22b"))
        val restored = Savepoints.load(meta2.basePath).operator("sd-op")
        (0 until 3).flatMap(i =>
            BackendStates.listState[Long](restored.nonKeyed(i), "ids")(LongCodec))
          .toDF("elem")
      }),

    // S10 master-state passthrough through the hash gate: a Flink-
    // dialect savepoint is written with a master-state blob (the
    // payload ENCODES table-derived content), rewritten via a second
    // writeAll cycle — the path the reference preserves
    // oldSavepoint.getMasterStates() through (StateMetadataUtils.java:
    // 124) — and the final DataFrame is decoded FROM the roundtripped
    // blob, so any drop or corruption breaks the oracle match.
    QueryDef(
      "sp11_master_state",
      Some("""SELECT 'regions' AS k, count(*) AS v FROM region
             |UNION ALL
             |SELECT 'nations' AS k, count(*) AS v FROM nation""".stripMargin),
      (s, d) => {
        import s.implicits._
        val nRegion = Catalog.t(s, d, "region").count()
        val nNation = Catalog.t(s, d, "nation").count()
        val payload = s"regions=$nRegion;nations=$nNation"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val base = Savepoints.bootstrap("ms-op", 2, 128)
          .copy(masterStates = Seq(payload))
        val meta1 = Savepoints.writer(s, base, "ms-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .createNewValueState("V", Seq((1L, nRegion)).toDS(), LongCodec)
          .writeAll(TempDirs.create("graft-sp11a"))
        // reload from disk (only `_metadata` carries the blob now), then
        // rewrite — passthrough under transform is what's under test
        val loaded1 = Savepoints.load(meta1.basePath)
        val rows = Savepoints.reader(s, loaded1, "ms-op").getAllUnreadKeyedStateRows
        val meta2 = Savepoints.writer(s, loaded1, "ms-op")
          .addKeyedStateRows(rows)
          .writeAll(TempDirs.create("graft-sp11b"))
        val ms = Savepoints.load(meta2.basePath).masterStates
        require(ms.size == 1, s"master states not preserved: ${ms.size}")
        new String(ms.head, java.nio.charset.StandardCharsets.UTF_8)
          .split(';').toSeq
          .map { kv => val Array(k, v) = kv.split('='); (k, v.toLong) }
          .toDF("k", "v")
      }),

    // W7 raw-state passthrough through the hash gate: a Flink-dialect
    // savepoint whose subtask 0 carries RAW keyed + RAW operator state
    // (opaque handle sections whose payloads ENCODE table-derived
    // counts) is rewritten via a full writeAll cycle — the path the
    // reference carries subtaskState.getRawOperatorState()/
    // getRawKeyedState() through verbatim (OperatorStateWriter.java:
    // 266-280). The managed state decodes from the rewritten savepoint
    // as keys >= 0; the two raw payloads decode from the ROUNDTRIPPED
    // sections as keys -1/-2 — a drop or corruption of either breaks
    // the oracle match.
    QueryDef(
      "sp23_raw_state_passthrough",
      Some("""SELECT o_custkey AS key, count(*) AS cnt FROM orders
             |GROUP BY o_custkey
             |UNION ALL SELECT -1, count(*) FROM supplier
             |UNION ALL SELECT -2, count(*) FROM nation""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val nSupplier = Catalog.t(s, d, "supplier").count()
        val nNation = Catalog.t(s, d, "nation").count()
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("raw-op", 4, 128), "raw-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp23a"))
        // inject raw sections (valid Flink handle grammar, opaque
        // payloads) onto subtask 0, as a real 1.7 job with heap timers
        // would have written them
        val loaded1 = Savepoints.load(meta1.basePath)
        val op1 = loaded1.operator("raw-op")
        val withRaw = loaded1.withReplacedOperators(Seq(op1.copy(
          rawKeyedState = Map(0 -> rawKeyedSectionWith(nSupplier)),
          rawOperatorState = Map(0 -> rawOperatorSectionWith(nNation)))))
        val meta2 = Savepoints.writer(s, withRaw, "raw-op")
          .addKeyedStateRows(
            Savepoints.reader(s, withRaw, "raw-op").getAllUnreadKeyedStateRows)
          .writeAll(TempDirs.create("graft-sp23b"))
        // reload from disk: the raw sections must have survived the
        // metadata write + read cycle verbatim
        val re = Savepoints.load(meta2.basePath).operator("raw-op")
        val fromRawKeyed = decodeInlinePayload(re.rawKeyedState(0))
        val fromRawOp = decodeInlinePayload(re.rawOperatorState(0))
        val managed = Savepoints.reader(s, Savepoints.load(meta2.basePath), "raw-op")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
        managed.unionAll(Seq((-1L, fromRawKeyed), (-2L, fromRawOp)).toDF("key", "cnt"))
      }),

    // Raw TIMER stream decode through the hash gate (builds on sp23's
    // raw-state carry): per-user hourly window timers — the state a
    // restored Flink window job fires from — are encoded into a REAL
    // raw-keyed timer stream (InternalTimerServiceSerializationProxy
    // grammar: snapshot-headed services, flipped-sign timestamps),
    // injected per subtask, carried through a writeAll rewrite, and
    // decoded back as (key, window, fire_ts) rows. Oracle = the SQL of
    // the windows with the event-time fire timestamp (window_end - 1).
    QueryDef(
      "sp24_timer_state",
      Some("""WITH e AS (SELECT user_id,
             |    epoch_ms(cast(ts as timestamp)) // 3600000 AS hr
             |  FROM events WHERE user_id < 50)
             |SELECT user_id AS key, hr * 3600000 AS window_start,
             |  (hr + 1) * 3600000 AS window_end,
             |  (hr + 1) * 3600000 - 1 AS fire_ts
             |FROM e GROUP BY user_id, hr""".stripMargin),
      (s, d) => {
        import graft.core.flink.FlinkTimerIO
        import s.implicits._
        val maxPar = 128
        val par = 4
        val windows: Seq[(Long, Long)] = Catalog.t(s, d, "events")
          .filter(col("user_id") < 50)
          .select(col("user_id"), expr("unix_millis(ts) div 3600000").as("hr"))
          .distinct()
          .as[(Long, Long)].collect().toSeq
        // real timer-stream encode: one ServiceGroup per key group,
        // timers keyed WITHOUT the group prefix (the segment IS the
        // group), TimeWindow namespaces, fire at window_end - 1
        val byGroup: Map[Int, Seq[FlinkTimerIO.ServiceGroup]] = windows
          .groupBy { case (k, _) => KeyGroups.assignToKeyGroup(k, maxPar) }
          .map { case (kg, ws) =>
            kg -> Seq(FlinkTimerIO.ServiceGroup("window-timers", "long",
              Codecs.FlinkTimeWindowCodec.id,
              eventTimers = ws.sortBy(w => (w._1, w._2)).map { case (k, hr) =>
                FlinkTimerIO.Timer(LongCodec.toBytes(k),
                  Codecs.FlinkTimeWindowCodec.toBytes(
                    (hr * 3600000L, (hr + 1) * 3600000L)),
                  (hr + 1) * 3600000L - 1)
              },
              processingTimers = Seq.empty))
          }
        // managed state alongside (a window job always has both)
        val counts = Catalog.t(s, d, "events").filter(col("user_id") < 50)
          .groupBy(col("user_id")).count().as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("timer-op", par, maxPar), "timer-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp24a"))
        val loaded1 = Savepoints.load(meta1.basePath)
        val op1 = loaded1.operator("timer-op")
        val rawKeyed = (0 until par).map { sub =>
          val (kgLo, kgHi) = KeyGroups.keyGroupRange(maxPar, par, sub)
          sub -> FlinkTimerIO.buildRawKeyedSection(kgLo, kgHi - kgLo + 1,
            byGroup.view.filterKeys(kg => kg >= kgLo && kg <= kgHi).toMap)
        }.toMap
        val withTimers = loaded1.withReplacedOperators(Seq(
          op1.copy(rawKeyedState = rawKeyed)))
        // full rewrite cycle: timers must survive it verbatim
        val meta2 = Savepoints.writer(s, withTimers, "timer-op")
          .addKeyedStateRows(
            Savepoints.reader(s, withTimers, "timer-op").getAllUnreadKeyedStateRows)
          .writeAll(TempDirs.create("graft-sp24b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "timer-op")
          .readEventTimeWindowTimers[Long]()
          .toDF("key", "window_start", "window_end", "fire_ts")
      }),

    // Native-RocksDB WRITE path through the hash gate (beyond the
    // reference, which reads incremental checkpoints but never writes
    // them): per-customer counts stream into per-subtask RocksDB
    // checkpoint dirs, the Flink-dialect `_metadata` records real
    // INCREMENTAL_KEY_GROUPS handles (sst shared / misc private / proxy
    // meta-state), and the magic-sniff load + S4 scan must decode the
    // same relation back. Repair/rescale flows can now round in native
    // format without a stream rewrite.
    QueryDef(
      "sp25_native_rocksdb_write",
      Some("SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey"),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("native-rocks", 4, 128), "native-rocks")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .withNativeRocksDb()
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp25"))
        Savepoints.reader(s, Savepoints.load(meta.basePath), "native-rocks")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // TRUE incremental update through the hash gate: a native-RocksDB
    // savepoint takes a row DELTA (upserts + deletes) without rewriting
    // unchanged state — untouched subtasks keep their handles verbatim,
    // touched subtasks share the base checkpoint's unchanged SSTs via
    // manifest refs (RocksDbCheckpoints.createIncrementalCheckpoint).
    // The merged read must equal base ∪ upserts − deletes.
    QueryDef(
      "sp26_incremental_update",
      Some("""SELECT o_custkey AS key,
             |  CASE WHEN o_custkey < 100 THEN 2 * count(*)
             |       ELSE count(*) END AS cnt
             |FROM orders GROUP BY o_custkey
             |HAVING o_custkey < 100 OR o_custkey >= 200""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("incr-gate", 4, maxPar), "incr-gate")
          .withKeyCodec(LongCodec)
          .withNativeRocksDb()
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp26a"))
        val ups = counts.filter(_._1 < 100).map { case (k, v) =>
          StateRowEncoder.valueRow("Count", k, v * 2, LongCodec, LongCodec, maxPar)
        }
        val dels = counts.filter(r => r._1 >= 100 && r._1 < 200)
          .map { case (k, _) =>
            StateRowEncoder.valueRow("Count", k, 0L, LongCodec, LongCodec, maxPar)
          }
        val meta2 = StateMaintenance.incrementalUpdate(
          s, Savepoints.load(meta1.basePath), "incr-gate", ups, dels,
          TempDirs.create("graft-sp26b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "incr-gate")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // Checkpoint-chain GC through the hash gate: after an incremental
    // update supersedes its base savepoint, `gcSavepoint` retires the
    // base — deleting its _metadata and every file no live manifest
    // references, while verbatim-carried subtask dirs and shared SSTs
    // survive in place. The updated savepoint must decode IDENTICALLY
    // after the base is retired, proving the retained set is exactly
    // the live closure.
    QueryDef(
      "sp27_checkpoint_gc",
      Some("""SELECT o_custkey AS key,
             |  CASE WHEN o_custkey < 50 THEN 3 * count(*)
             |       ELSE count(*) END AS cnt
             |FROM orders GROUP BY o_custkey
             |HAVING o_custkey < 150 OR o_custkey >= 250""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("gc-gate", 4, maxPar), "gc-gate")
          .withKeyCodec(LongCodec)
          .withNativeRocksDb()
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp27a"))
        val ups = counts.filter(_._1 < 50).map { case (k, v) =>
          StateRowEncoder.valueRow("Count", k, v * 3, LongCodec, LongCodec, maxPar)
        }
        val dels = counts.filter(r => r._1 >= 150 && r._1 < 250)
          .map { case (k, _) =>
            StateRowEncoder.valueRow("Count", k, 0L, LongCodec, LongCodec, maxPar)
          }
        val base = Savepoints.load(meta1.basePath)
        val meta2 = StateMaintenance.incrementalUpdate(
          s, base, "gc-gate", ups, dels, TempDirs.create("graft-sp27b"))
        val updated = Savepoints.load(meta2.basePath)
        val report = StateMaintenance.gcSavepoint(base, Seq(updated))
        require(report.deletedFiles.nonEmpty,
          "GC must delete at least the base _metadata")
        Savepoints.reader(s, updated, "gc-gate")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // sp37: retention POLICY over a checkpoint CHAIN — the savepoint
    // side of st25's versioned-sink vacuum, and the chain extension of
    // sp27's single-supersession GC. Two incremental updates stack on a
    // native-RocksDB base (v1 → v2 → v3); the newest-only policy then
    // retires BOTH ancestors, each GC pass keeping exactly the head's
    // live closure. This is the transitive-liveness law sp27 cannot
    // test: the head still references SSTs that physically live in
    // ancestor checkpoint dirs, so both passes must retain them while
    // deleting each retired _metadata (restore-point revocation) and
    // every unreferenced file. The head must decode IDENTICALLY after
    // the sweep — the oracle sees both updates compounded.
    QueryDef(
      "sp37_checkpoint_retention",
      Some("""SELECT o_custkey AS key,
             |  CASE WHEN o_custkey < 50 THEN 3 * count(*)
             |       WHEN o_custkey < 100 THEN 5 * count(*)
             |       ELSE count(*) END AS cnt
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val noDels = counts.filter(_ => false).map { case (k, _) =>
          StateRowEncoder.valueRow("Count", k, 0L, LongCodec, LongCodec, maxPar)
        }
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("ret-gate", 4, maxPar), "ret-gate")
          .withKeyCodec(LongCodec)
          .withNativeRocksDb()
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp37a"))
        val ups1 = counts.filter(_._1 < 50).map { case (k, v) =>
          StateRowEncoder.valueRow("Count", k, v * 3, LongCodec, LongCodec, maxPar)
        }
        val v1 = Savepoints.load(meta1.basePath)
        val meta2 = StateMaintenance.incrementalUpdate(
          s, v1, "ret-gate", ups1, noDels, TempDirs.create("graft-sp37b"))
        val ups2 = counts.filter(r => r._1 >= 50 && r._1 < 100)
          .map { case (k, v) =>
            StateRowEncoder.valueRow("Count", k, v * 5, LongCodec, LongCodec, maxPar)
          }
        val v2 = Savepoints.load(meta2.basePath)
        val meta3 = StateMaintenance.incrementalUpdate(
          s, v2, "ret-gate", ups2, noDels, TempDirs.create("graft-sp37c"))
        val head = Savepoints.load(meta3.basePath)
        // newest-only retention: retire the chain oldest-first, each
        // pass scoped to the head's live closure
        val g1 = StateMaintenance.gcSavepoint(v1, Seq(head))
        val g2 = StateMaintenance.gcSavepoint(v2, Seq(head))
        require(g1.deletedFiles.nonEmpty && g2.deletedFiles.nonEmpty,
          "retention must delete both retired restore points")
        Savepoints.reader(s, head, "ret-gate")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // Flink >=1.14 metadata (v4, FLIP-147): a savepoint whose job
    // contains a drained bounded source — the source operator snapshots
    // as FULLY FINISHED (no subtask states) — written and re-read
    // through the v4 envelope with relocatable RELATIVE state-file
    // handles. The keyed counts must decode identically through the new
    // envelope, and the finished marker must survive the round trip
    // (checked with require so the oracle row only exists if it did).
    QueryDef(
      "sp28_v4_finished_metadata",
      Some("""SELECT o_custkey AS key, count(*) AS cnt
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val boot = Savepoints.bootstrap("v4-agg", 4, 128)
        val withSrc = boot.copy(operators = boot.operators :+
          OperatorStateMeta("v4-src", Identifiers.operatorId("v4-src"),
            4, 128, None, Seq.empty, compression = true, Seq.empty,
            fullyFinished = true))
        val meta = Savepoints.writer(s, withSrc, "v4-agg")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .createNewValueState("OrderCount", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp28"))
        val re = Savepoints.load(meta.basePath)
        require(re.operator("v4-src").fullyFinished,
          "fully-finished marker lost through the v4 envelope")
        Savepoints.reader(s, re, "v4-agg")
          .readValueStates[Long, Long]("OrderCount")
          .toDF("key", "cnt")
      }),

    // Savepoint validation (the reference's "validate corrupted state"
    // use case, README.md:41-44): a value + map state savepoint is
    // scanned row-by-row against its own codec declarations — key-group
    // range, exact key/namespace/map-key consumption, null-marker-aware
    // value decode. Healthy savepoint => ok_rows = n_rows, bad_rows = 0
    // (the corruption-DETECTION side is spec'd with surgically broken
    // rows in RoundFiveOpsSpec). n_key_groups is reported to users but
    // not oracle-checkable (murmur key-group math has no SQL analogue).
    QueryDef(
      "sp14_validate",
      Some("""WITH c AS (SELECT o_custkey FROM orders GROUP BY o_custkey),
             |m AS (SELECT o_custkey, o_orderstatus FROM orders GROUP BY 1, 2)
             |SELECT 'Count' AS state, count(*) AS n_rows,
             |  count(*) AS ok_rows, cast(0 as bigint) AS bad_rows FROM c
             |UNION ALL
             |SELECT 'StatusCounts', count(*), count(*), cast(0 as bigint)
             |FROM m""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val orders = Catalog.t(s, d, "orders")
        val counts = orders.groupBy(col("o_custkey")).count().as[(Long, Long)]
        val mapRows = orders
          .groupBy(col("o_custkey"), col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"))
          .as[(Long, String, Long)]
          .map { case (k, status, cnt) =>
            StateQueries.mapRow("StatusCounts", k, status, cnt, maxPar)
          }
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("val-op", 4, maxPar), "val-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .defineState(StateMeta("StatusCounts", StateKind.Map, "long", Some("string")))
          .addKeyedStateRows(mapRows)
          .writeAll(TempDirs.create("graft-sp14"))
        StateMaintenance.validate(s, Savepoints.load(meta.basePath), "val-op")
          .select("state", "n_rows", "ok_rows", "bad_rows")
      }),

    // Savepoint REPAIR through the hash gate (the other half of the
    // validate/repair use case): deterministic corruption is injected —
    // one truncated-value row per synthetic key (real custkey +
    // 10^9, so no collision with content keys) — then repair drops
    // exactly the invalid rows and the typed read of the REPAIRED
    // savepoint must equal the clean SQL aggregate. A repair that drops
    // too much or too little breaks the hash either way.
    QueryDef(
      "sp15_repair",
      Some("SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey"),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        // corrupt rows: valid key framing for a synthetic key, but a
        // 3-byte value under a declared 8-byte long codec
        val corrupt = counts.map { case (k, _) =>
          val sk = k + 1000000000L
          val w = new ByteWriter()
          KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(sk, maxPar), maxPar)
          Codecs.LongCodec.write(w, sk)
          w.writeByte(0)
          KeyedStateRow("Count", w.toBytes, Array[Byte](1, 2, 3))
        }
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("repair-op", 4, maxPar), "repair-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .addKeyedStateRows(corrupt.toDF())
          .writeAll(TempDirs.create("graft-sp15a"))
        val meta2 = StateMaintenance.repair(
          s, Savepoints.load(meta1.basePath), "repair-op", TempDirs.create("graft-sp15b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "repair-op")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // Operator clone (topology-change maintenance): state of operator A
    // is copied under a NEW uid B into one savepoint that carries BOTH —
    // the move behind renaming an operator or bootstrapping a parallel
    // branch from existing state. Exercises untouched-operator
    // passthrough (W8: A's files absolutize, only B encodes) plus raw
    // row copy-through; the oracle is the content SQL twice (A UNION
    // ALL B with the uid as a discriminator column).
    QueryDef(
      "sp13_operator_clone",
      Some("""WITH c AS (SELECT o_custkey AS key, count(*) AS cnt
             |  FROM orders GROUP BY o_custkey)
             |SELECT 'op-a' AS op, key, cnt FROM c
             |UNION ALL SELECT 'op-b', key, cnt FROM c""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("op-a", 4, 128), "op-a")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp13a"))
        // clone: add a state-less op-b to the savepoint, feed it op-a's
        // raw rows; op-a's files pass through untouched (W8)
        val opB = graft.core.meta.OperatorStateMeta("op-b",
          Identifiers.operatorId("op-b"), 4, 128, None, Seq.empty,
          compression = true, Seq.empty)
        val withB = meta1.copy(operators = meta1.operators :+ opB)
        val rowsA = Savepoints.reader(s, meta1, "op-a").getAllUnreadKeyedStateRows
        val meta2 = Savepoints.writer(s, withB, "op-b")
          .withKeyCodec(LongCodec)
          .defineState(StateMeta("Count", StateKind.Value, "long"))
          .addKeyedStateRows(rowsA)
          .writeAll(TempDirs.create("graft-sp13b"))
        val loaded = Savepoints.load(meta2.basePath)
        Seq("op-a", "op-b").map { uid =>
          Savepoints.reader(s, loaded, uid)
            .readValueStates[Long, Long]("Count")
            .toDF("key", "cnt")
            .select(lit(uid).as("op"), col("key"), col("cnt"))
        }.reduce(_ unionAll _)
      }),

    // P8/W3 through the hash gate: schema evolution of a live state —
    // the reference's ValueStateTypeChangeTest use-case. A long counter
    // state is read, transformed to a formatted STRING, and re-written
    // with createNewValueState replacing the state's serializer; the
    // reloaded savepoint must decode the new type. Oracle = the SQL of
    // the transform.
    QueryDef(
      "sp20_type_migration",
      Some("""SELECT o_custkey AS key,
             |  'count=' || cast(count(*) as varchar) AS label
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("typed-op", 4, 128), "typed-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp20a"))
        val asString = Savepoints.reader(s, Savepoints.load(meta1.basePath), "typed-op")
          .readValueStates[Long, Long]("Count")
          .map { case (k, v) => (k, s"count=$v") }
        val meta2 = Savepoints
          .writer(s, Savepoints.load(meta1.basePath), "typed-op")
          .createNewValueState("Count", asString, StringCodec)
          .writeAll(TempDirs.create("graft-sp20b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "typed-op")
          .readValueStates[Long, String]("Count")
          .toDF("key", "label")
      }),

    // Savepoint RELOCATION (sp35): the whole savepoint moves to a new
    // directory (backup/restore, bucket migration, DR copy) and must
    // load from the new location untouched — the case RELATIVE handles
    // exist for (Flink ≥1.11 made savepoints self-contained for exactly
    // this; sp34 is the opposite trick, absolute pinning). State files
    // copy byte-for-byte; the metadata written alongside them keeps
    // plain file-name handles, so the reader resolves them against
    // wherever the `_metadata` actually lives. No re-encode, no
    // re-shard — relocation is an opaque directory copy.
    QueryDef(
      "sp35_savepoint_relocate",
      Some("""SELECT o_custkey AS key, count(*) AS cnt
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("reloc-op", 4, 128), "reloc-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Cnt", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp35a"))
        // relocate: byte-for-byte copy of the WHOLE savepoint tree
        // (metadata included, handles untouched) — a valid savepoint
        // must load from wherever the tree lands, because its handles
        // are stored savepoint-relative
        val src = java.nio.file.Paths.get(meta1.basePath)
        val dst = java.nio.file.Paths.get(TempDirs.create("graft-sp35b"))
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
          val rel = src.relativize(p)
          val target = dst.resolve(rel.toString)
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(target)
          else
            java.nio.file.Files.copy(p, target,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        Savepoints.reader(s, Savepoints.load(dst.toString), "reloc-op")
          .readValueStates[Long, Long]("Cnt")
          .toDF("key", "cnt")
      }),

    // Operator RENAME (sp34): a job refactor changes an operator's uid
    // and the savepoint must follow — a METADATA-ONLY rewrite: the new
    // `_metadata` carries the renamed uid + recomputed operator id but
    // points at the ORIGINAL state files verbatim (handles are stored
    // absolute, so no byte of keyed state is copied or re-encoded).
    // The reloaded savepoint must serve the state under the NEW uid —
    // proving reader lookup routes through uid/operator-id resolution,
    // not file paths. The cheapest migration in the toolbox (O(1) vs
    // sp33's full re-shard), and the one users reach for first.
    QueryDef(
      "sp34_operator_rename",
      Some("""SELECT o_custkey AS key, count(*) AS cnt
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("ren-old", 4, 128), "ren-old")
          .withKeyCodec(LongCodec)
          .createNewValueState("Cnt", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp34a"))
        val loaded = Savepoints.load(meta1.basePath)
        // handles are stored savepoint-relative; pin them to the source
        // directory so the renamed `_metadata` (written elsewhere)
        // keeps referencing the ORIGINAL state files byte-for-byte
        val renamed = loaded.copy(operators = loaded.operators.map { o =>
          if (o.uid == "ren-old")
            o.copy(uid = "ren-new",
              operatorId = Identifiers.operatorId("ren-new"),
              keyedFiles = o.keyedFiles.map(loaded.absolutized))
          else o
        })
        val dir2 = TempDirs.create("graft-sp34b")
        MetadataIO.write(dir2, renamed)
        Savepoints.reader(s, Savepoints.load(dir2), "ren-new")
          .readValueStates[Long, Long]("Cnt")
          .toDF("key", "cnt")
      }),

    // KEY migration (sp33): the migration axis sp20 doesn't cover —
    // the key SERIALIZER changes (long custkey → zero-padded string
    // uid), which moves every row to a different key group
    // (assignToKeyGroup hashes the NEW key bytes), so the writer's
    // exact-subtask repartition re-shards the whole state; the rescale
    // (par 4→8, maxPar 128→256) rides along the same write. The
    // re-read through the new key codec must decode the identical
    // relation under the new identifiers — proving reads route through
    // the recomputed key-group index, not the old layout.
    QueryDef(
      "sp33_key_migration",
      Some("""SELECT 'u:' || lpad(cast(o_custkey as varchar), 8, '0')
             |    AS key,
             |  cast(count(*) as bigint) AS cnt
             |FROM orders GROUP BY o_custkey""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("key-op", 4, 128), "key-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Cnt", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp33a"))
        val migrated = Savepoints
          .reader(s, Savepoints.load(meta1.basePath), "key-op")
          .readValueStates[Long, Long]("Cnt")
          .map { case (k, v) => (f"u:$k%08d", v) }
        val meta2 = Savepoints
          .writer(s, Savepoints.bootstrap("key-op", 8, 256), "key-op")
          .withKeyCodec(StringCodec)
          .createNewValueState("Cnt", migrated, LongCodec)
          .writeAll(TempDirs.create("graft-sp33b"))
        Savepoints.reader(s, Savepoints.load(meta2.basePath), "key-op")
          .readValueStates[String, Long]("Cnt")
          .toDF("key", "cnt")
      }),

    // P7 through the hash gate: a WINDOW operator's accumulated state —
    // "window-contents" rows whose namespace bytes are real Flink
    // TimeWindow (start, end) pairs — written, reloaded, and read back
    // WITH the window bounds. The reference reads exactly this state
    // (WindowStateReadingTest.java:65-75); here the decoded relation
    // must hash-match the hourly SQL the windows represent.
    QueryDef(
      "sp19_window_state",
      Some("""WITH e AS (SELECT user_id,
             |    epoch_ms(cast(ts as timestamp)) // 3600000 AS hr
             |  FROM events WHERE user_id < 50)
             |SELECT user_id AS key, hr * 3600000 AS window_start,
             |  (hr + 1) * 3600000 AS window_end, count(*) AS cnt
             |FROM e GROUP BY user_id, hr""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val rows = Catalog.t(s, d, "events").filter(col("user_id") < 50)
          .select(col("user_id"), expr("unix_millis(ts) div 3600000").as("hr"))
          .groupBy("user_id", "hr").agg(count(lit(1)).as("cnt"))
          .as[(Long, Long, Long)]
          .map { case (k, hr, v) =>
            StateQueries.windowRow(k, hr * 3600000L, (hr + 1) * 3600000L, v, maxPar)
          }
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("win-op", 4, maxPar), "win-op")
          .withKeyCodec(LongCodec)
          .defineState(StateMeta(OperatorStateReader.WindowContents,
            StateKind.Value, "long", None, Codecs.FlinkTimeWindowCodec.id))
          .addKeyedStateRows(rows)
          .writeAll(TempDirs.create("graft-sp19"))
        Savepoints.reader(s, Savepoints.load(meta.basePath), "win-op")
          .readWindowStatesWithBounds[Long, Long]()
          .toDF("key", "window_start", "window_end", "cnt")
      }),

    // Dialect MIGRATION: state written by a Flink 1.7 job (Flink-dialect
    // container: Checkpoints-header `_metadata`, serialization proxy,
    // flag-bit runs, snappy framing) moves into a graft-dialect
    // savepoint by raw-row copy-through — KeyedStateRow is
    // dialect-NEUTRAL (stateName + framed key/value bytes), so
    // migration is a container rewrite, never a value transcode. The
    // migrated savepoint reloads via magic-sniffing and must decode to
    // the same relation the Flink-side write started from.
    QueryDef(
      "sp17_dialect_migration",
      Some("""SELECT c_name AS key,
             |  cast(round(c_acctbal * 100) as bigint) AS cents
             |FROM customer""".stripMargin),
      (s, d) => {
        import s.implicits._
        val bal = Catalog.t(s, d, "customer")
          .select(col("c_name"),
            expr("cast(round(c_acctbal * 100) as bigint)").as("cents"))
          .as[(String, Long)]
        val metaF = Savepoints
          .writer(s, Savepoints.bootstrap("mig-op", 4, 128), "mig-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(Codecs.FlinkStringCodec)
          .createNewValueState("Balance", bal, LongCodec)
          .writeAll(TempDirs.create("graft-sp17f"))
        val raw = Savepoints.reader(s, Savepoints.load(metaF.basePath), "mig-op")
          .getAllUnreadKeyedStateRows
        val metaG = Savepoints
          .writer(s, Savepoints.bootstrap("mig-op", 4, 128), "mig-op")
          .withKeyCodec(Codecs.FlinkStringCodec)
          .defineState(StateMeta("Balance", StateKind.Value, "long"))
          .addKeyedStateRows(raw)
          .writeAll(TempDirs.create("graft-sp17g"))
        Savepoints.reader(s, Savepoints.load(metaG.basePath), "mig-op")
          .readValueStates[String, Long]("Balance")
          .toDF("key", "cents")
      }),

    // Savepoint MERGE: two independently-written savepoints (think: two
    // jobs' state, or a region split being consolidated) combine into
    // ONE new operator carrying both states — raw rows from both
    // sources union through the write path, the state-meta union is
    // declared on the target, and both states must read back intact.
    // Valid because key-group assignment depends only on (key, maxPar),
    // which the sources share. Oracle = full outer join of the two
    // per-source aggregates.
    QueryDef(
      "sp16_savepoint_merge",
      Some("""WITH a AS (SELECT o_custkey AS key, count(*) AS odd_cnt
             |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1),
             |b AS (SELECT o_custkey AS key,
             |    cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
             |      AS even_cents
             |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1)
             |SELECT key, odd_cnt, even_cents
             |FROM a FULL JOIN b USING (key)""".stripMargin),
      (s, d) => {
        import s.implicits._
        val orders = Catalog.t(s, d, "orders")
        val oddCounts = orders.filter(col("o_orderkey") % 2 === 1)
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val evenCents = orders.filter(col("o_orderkey") % 2 === 0)
          .groupBy(col("o_custkey"))
          .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("c"))
          .as[(Long, Long)]
        val metaA = Savepoints
          .writer(s, Savepoints.bootstrap("merge-src-a", 4, 128), "merge-src-a")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", oddCounts, LongCodec)
          .writeAll(TempDirs.create("graft-sp16a"))
        val metaB = Savepoints
          .writer(s, Savepoints.bootstrap("merge-src-b", 4, 128), "merge-src-b")
          .withKeyCodec(LongCodec)
          .createNewValueState("Cents", evenCents, LongCodec)
          .writeAll(TempDirs.create("graft-sp16b"))
        val rowsA = Savepoints.reader(s, metaA, "merge-src-a").getAllUnreadKeyedStateRows
        val rowsB = Savepoints.reader(s, metaB, "merge-src-b").getAllUnreadKeyedStateRows
        val merged = Savepoints
          .writer(s, Savepoints.bootstrap("merged", 4, 128), "merged")
          .withKeyCodec(LongCodec)
          .defineState(StateMeta("Count", StateKind.Value, "long"))
          .defineState(StateMeta("Cents", StateKind.Value, "long"))
          .addKeyedStateRows(rowsA.unionAll(rowsB))
          .writeAll(TempDirs.create("graft-sp16m"))
        val r = Savepoints.reader(s, Savepoints.load(merged.basePath), "merged")
        val cnt = r.readValueStates[Long, Long]("Count").toDF("key", "odd_cnt")
        val cents = r.readValueStates[Long, Long]("Cents").toDF("key", "even_cents")
        cnt.join(cents, Seq("key"), "full_outer")
          .select(col("key"), col("odd_cnt"), col("even_cents"))
      }),

    // State-size analytics (capacity planning): per-state row counts and
    // EXACT encoded byte totals of a Flink-dialect savepoint, via the
    // raw-row scan (F3 surface). The oracle replays the wire arithmetic
    // from the table data — key = 1-byte key-group prefix + Flink
    // StringValue (len+1 prefix, 7-bit chars; 1+len for ASCII) + 1-byte
    // VoidNamespace; long value = 8 bytes; string value = 1+len — so
    // the byte LAYOUT itself (C2/C5/C11) is hash-gated, not just the
    // Savepoint INVENTORY (sp29): the first query an operator runs
    // against an unfamiliar snapshot — "what is in here": every state
    // with its kind, declared serializers, namespace, TTL flag,
    // compression, and max-parallelism from the METADATA (driver-side,
    // no job — exactly how the reference surfaces Savepoint/
    // OperatorState/StateMetaInfoSnapshot), joined with the per-state
    // row count from ONE distributed raw scan. The oracle re-derives
    // each declared fact and row count from the source relations the
    // states were built from.
    QueryDef(
      "sp29_state_inventory",
      Some("""SELECT 'Cents' AS state, 'value' AS kind,
             |  'long' AS value_codec, '-' AS map_key_codec,
             |  true AS compression, 128 AS max_par,
             |  (SELECT count(*) FROM customer) AS n_rows
             |UNION ALL
             |SELECT 'Quantities', 'list', 'list<double>', '-', true, 128,
             |  (SELECT count(DISTINCT l_orderkey) FROM lineitem)
             |UNION ALL
             |SELECT 'StatusCounts', 'map', 'long', 'string', true, 128,
             |  (SELECT count(*) FROM
             |    (SELECT DISTINCT o_custkey, o_orderstatus FROM orders))""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val lc = ListCodec(DoubleCodec)
        val cents = Catalog.t(s, d, "customer")
          .select(col("c_custkey"),
            expr("cast(round(c_acctbal * 100) as bigint)").as("v"))
          .as[(Long, Long)]
        val lists = Catalog.t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(collect_list(col("l_quantity")).as("qs"))
          .as[(Long, Seq[Double])]
          .map { case (k, qs) =>
            StateQueries.listRow("Quantities", k, lc.toBytes(qs.toList), maxPar)
          }
        val maps = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"))
          .as[(Long, String, Long)]
          .map { case (k, status, cnt) =>
            StateQueries.mapRow("StatusCounts", k, status, cnt, maxPar)
          }
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("inv-op", 4, maxPar), "inv-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Cents", cents, LongCodec)
          .defineState(StateMeta("Quantities", StateKind.List, "list<double>"))
          .addKeyedStateRows(lists)
          .defineState(StateMeta("StatusCounts", StateKind.Map, "long", Some("string")))
          .addKeyedStateRows(maps)
          .writeAll(TempDirs.create("graft-sp29"))
        val loaded = Savepoints.load(meta.basePath)
        val op = loaded.operators.find(_.uid == "inv-op").get
        val kindName = Map(StateKind.Value -> "value",
          StateKind.List -> "list", StateKind.Map -> "map")
        val metaDf = op.states.map { st =>
          (st.name, kindName(st.kind), st.valueCodecId,
            st.mapKeyCodecId.getOrElse("-"), op.compression,
            op.maxParallelism)
        }.toDF("state", "kind", "value_codec", "map_key_codec",
          "compression", "max_par")
        val counts = Savepoints.reader(s, loaded, "inv-op")
          .getAllUnreadKeyedStateRows
          .groupBy(col("stateName").as("state"))
          .agg(count(lit(1)).as("n_rows"))
        metaDf.join(counts, Seq("state"))
      }),

    // Rescale plan: the redistribution bill of taking a real savepoint
    // (written at parallelism 4, maxParallelism 128) to parallelism 6 —
    // which key-group spans each new subtask pulls from each old one,
    // and which spans change owner. Parallelism/maxParallelism come
    // from the LOADED metadata (the plan is what an operator console
    // shows before committing to the sp09 rewrite); the range
    // arithmetic is Flink's closed-form assignment, which the oracle
    // re-derives independently from integer division.
    QueryDef(
      "sp30_rescale_plan",
      Some("""WITH o AS (SELECT unnest(range(0, 4)) AS old_subtask),
             |n AS (SELECT unnest(range(0, 6)) AS new_subtask),
             |r AS (SELECT old_subtask, new_subtask,
             |    greatest((old_subtask * 128 + 3) // 4,
             |             (new_subtask * 128 + 5) // 6) AS kg_lo,
             |    least(((old_subtask + 1) * 128 - 1) // 4,
             |          ((new_subtask + 1) * 128 - 1) // 6) AS kg_hi
             |  FROM o, n)
             |SELECT old_subtask, new_subtask, kg_lo, kg_hi,
             |  kg_hi - kg_lo + 1 AS n_keygroups,
             |  old_subtask <> new_subtask AS moves
             |FROM r WHERE kg_lo <= kg_hi""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("plan-op", 4, 128), "plan-op")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp30"))
        val op = Savepoints.load(meta.basePath).operator("plan-op")
        StateMaintenance.rescalePlan(s, op.maxParallelism,
          op.parallelism, newParallelism = 6)
      }),

    // State growth trend: a CHAIN of three snapshots of the same
    // operator (a growing per-customer order-count state) diffed
    // step-over-step — the per-checkpoint added/removed/changed/same
    // ledger an operations console plots to catch unbounded state
    // growth before it pages anyone. Each step is one full-outer keyed
    // diff (sp07's machinery) reduced to four counters.
    QueryDef(
      "sp31_state_growth_trend",
      Some("""WITH s1 AS (SELECT o_custkey AS key, count(*) AS v FROM orders
             |  WHERE o_orderkey % 3 = 0 GROUP BY 1),
             |s2 AS (SELECT o_custkey AS key, count(*) AS v FROM orders
             |  WHERE o_orderkey % 3 <= 1 GROUP BY 1),
             |s3 AS (SELECT o_custkey AS key, count(*) AS v FROM orders
             |  GROUP BY 1),
             |d1 AS (SELECT CASE WHEN a.key IS NULL THEN 'added'
             |    WHEN b.key IS NULL THEN 'removed'
             |    WHEN a.v = b.v THEN 'same' ELSE 'changed' END AS st
             |  FROM s1 a FULL OUTER JOIN s2 b ON a.key = b.key),
             |d2 AS (SELECT CASE WHEN a.key IS NULL THEN 'added'
             |    WHEN b.key IS NULL THEN 'removed'
             |    WHEN a.v = b.v THEN 'same' ELSE 'changed' END AS st
             |  FROM s2 a FULL OUTER JOIN s3 b ON a.key = b.key)
             |SELECT 1 AS step,
             |  cast(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) as bigint) AS n_added,
             |  cast(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) as bigint) AS n_removed,
             |  cast(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) as bigint) AS n_changed,
             |  cast(sum(CASE WHEN st = 'same' THEN 1 ELSE 0 END) as bigint) AS n_same
             |FROM d1
             |UNION ALL
             |SELECT 2,
             |  cast(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) as bigint),
             |  cast(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) as bigint),
             |  cast(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) as bigint),
             |  cast(sum(CASE WHEN st = 'same' THEN 1 ELSE 0 END) as bigint)
             |FROM d2""".stripMargin),
      (s, d) => {
        import s.implicits._
        def snapshot(pred: org.apache.spark.sql.Column, tag: String) =
          Savepoints
            .writer(s, Savepoints.bootstrap("trend-op", 4, 128), "trend-op")
            .withKeyCodec(LongCodec)
            .createNewValueState("Count",
              Catalog.t(s, d, "orders").filter(pred)
                .groupBy(col("o_custkey")).count().as[(Long, Long)],
              LongCodec)
            .writeAll(TempDirs.create(s"graft-sp31-$tag"))
        val c1 = snapshot(col("o_orderkey") % 3 === 0, "a")
        val c2 = snapshot(col("o_orderkey") % 3 <= 1, "b")
        val c3 = snapshot(lit(true), "c")
        def stepCounts(before: SavepointMeta, after: SavepointMeta,
            step: Int) =
          StateDiff.valueStates[Long, Long](s, before, after,
              "trend-op", "Count")
            .agg(
              sum(when(col("status") === "added", 1L).otherwise(0L))
                .as("n_added"),
              sum(when(col("status") === "removed", 1L).otherwise(0L))
                .as("n_removed"),
              sum(when(col("status") === "changed", 1L).otherwise(0L))
                .as("n_changed"),
              sum(when(col("status") === "same", 1L).otherwise(0L))
                .as("n_same"))
            .select(lit(step).as("step"), col("n_added"), col("n_removed"),
              col("n_changed"), col("n_same"))
        stepCounts(c1, c2, 1).unionByName(stepCounts(c2, c3, 2))
      }),

    // Cross-operator state join: ONE savepoint holding TWO operators
    // (per-customer order counts; per-customer balance cents), read
    // back and joined by key into the enriched per-customer row — the
    // savepoint-as-database query: correlate state ACROSS operators of
    // a snapshot without touching the live job. Both reads are
    // independent pushed-down scans; the join keys on the decoded
    // customer key.
    QueryDef(
      "sp32_cross_operator_join",
      Some("""WITH c AS (SELECT o_custkey AS key, count(*) AS cnt
             |  FROM orders GROUP BY o_custkey),
             |b AS (SELECT c_custkey AS key,
             |    cast(round(c_acctbal * 100) as bigint) AS cents
             |  FROM customer)
             |SELECT c.key, c.cnt, b.cents
             |FROM c JOIN b ON c.key = b.key""".stripMargin),
      (s, d) => {
        import s.implicits._
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("op-counts", 4, 128), "op-counts")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(TempDirs.create("graft-sp32a"))
        val opB = graft.core.meta.OperatorStateMeta("op-balances",
          Identifiers.operatorId("op-balances"), 4, 128, None, Seq.empty,
          compression = true, Seq.empty)
        val balances = Catalog.t(s, d, "customer")
          .select(col("c_custkey"),
            expr("cast(round(c_acctbal * 100) as bigint)"))
          .as[(Long, Long)]
        val meta2 = Savepoints
          .writer(s, meta1.copy(operators = meta1.operators :+ opB),
            "op-balances")
          .withKeyCodec(LongCodec)
          .createNewValueState("Cents", balances, LongCodec)
          .writeAll(TempDirs.create("graft-sp32b"))
        val loaded = Savepoints.load(meta2.basePath)
        val cnt = Savepoints.reader(s, loaded, "op-counts")
          .readValueStates[Long, Long]("Count").toDF("key", "cnt")
        val cents = Savepoints.reader(s, loaded, "op-balances")
          .readValueStates[Long, Long]("Cents").toDF("key", "cents")
        cnt.join(cents, Seq("key"))
      }),

    // decoded content.
    QueryDef(
      "sp12_state_sizes",
      Some("""WITH c AS (SELECT c_name, strlen(c_name) AS len FROM customer)
             |SELECT 'Cents' AS state, count(*) AS n_rows,
             |  cast(sum(3 + len) as bigint) AS key_bytes,
             |  cast(count(*) * 8 as bigint) AS value_bytes FROM c
             |UNION ALL
             |SELECT 'Name', count(*),
             |  cast(sum(3 + len) as bigint),
             |  cast(sum(1 + len) as bigint) FROM c""".stripMargin),
      (s, d) => {
        import s.implicits._
        val cust = Catalog.t(s, d, "customer")
        val cents = cust.select(col("c_name"),
          expr("cast(round(c_acctbal * 100) as bigint)").as("v"))
          .as[(String, Long)]
        val names = cust.select(col("c_name"), col("c_name")).as[(String, String)]
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("sz-op", 4, 128), "sz-op")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(Codecs.FlinkStringCodec)
          .createNewValueState("Cents", cents, LongCodec)
          .createNewValueState("Name", names, Codecs.FlinkStringCodec)
          .writeAll(TempDirs.create("graft-sp12"))
        Savepoints.reader(s, Savepoints.load(meta.basePath), "sz-op")
          .getAllUnreadKeyedStateRows
          .groupBy(col("stateName").as("state"))
          .agg(count(lit(1)).as("n_rows"),
            sum(expr("octet_length(keyAndNamespaceBytes)")).as("key_bytes"),
            sum(expr("octet_length(valueBytes)")).as("value_bytes"))
      }),

    // S4 through the hash gate: state lives in a real RocksDB
    // checkpoint (one column family per state, native SST files) and is
    // read back through the DSv2 source + typed reader. Checkpoint
    // creation is single-instance by nature (it emulates what one Flink
    // task manager wrote); the distributed READ path is what's under
    // test. Oracle = the SQL the state content was derived from.
    QueryDef(
      "sp05_rocksdb_scan",
      Some("SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey"),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count()
          .as[(Long, Long)].collect()
        val dir = TempDirs.create("graft-sp05")
        val rows = counts.map { case (k, v) =>
          StateRowEncoder.valueRow("Count", k, v, LongCodec, LongCodec, maxPar)
        }
        RocksDbCheckpoints.createCheckpoint(s"$dir/rocks-0",
          rows.toSeq.map(r => (r.stateName, r.keyAndNamespaceBytes, r.valueBytes)))
        val op = OperatorStateMeta("rocky", Identifiers.operatorId("rocky"),
          parallelism = 1, maxParallelism = maxPar, keyCodecId = Some("long"),
          states = Seq(StateMeta("Count", StateKind.Value, "long")),
          compression = false,
          keyedFiles = Seq(KeyedFileHandle(0, "rocks-0", 0, maxPar - 1,
            Seq.empty, KeyedFileHandle.RocksDbKind)))
        MetadataIO.write(dir, SavepointMeta(1L, dir, Seq(op)))
        Savepoints.reader(s, Savepoints.load(dir), "rocky")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      }),

    // Checkpoint-chain COMPACTION (sp36): after a long run of
    // incremental updates (sp26's path), restore time and file-handle
    // fan-out grow with chain length — the production remedy is to
    // periodically fold the live state into ONE fresh full savepoint.
    // The gate is self-containment by construction: the whole chain
    // (base + both increments) is DELETED from disk before the returned
    // reader ever scans a byte, so the compacted savepoint passes only
    // if it references nothing outside its own directory. Oracle = the
    // chain's net effect (x4 for <60, x2 for [60,120), deletions in
    // [300,400)).
    QueryDef(
      "sp36_checkpoint_compaction",
      Some("""SELECT o_custkey AS key,
             |  CASE WHEN o_custkey < 60 THEN 4 * count(*)
             |       WHEN o_custkey < 120 THEN 2 * count(*)
             |       ELSE count(*) END AS cnt
             |FROM orders GROUP BY o_custkey
             |HAVING o_custkey < 300 OR o_custkey >= 400""".stripMargin),
      (s, d) => {
        import s.implicits._
        val maxPar = 128
        val counts = Catalog.t(s, d, "orders")
          .groupBy(col("o_custkey")).count().as[(Long, Long)]
        val chainDirs = Seq(TempDirs.create("graft-sp36a"), TempDirs.create("graft-sp36b"),
          TempDirs.create("graft-sp36c"))
        val meta1 = Savepoints
          .writer(s, Savepoints.bootstrap("compact-gate", 4, maxPar),
            "compact-gate")
          .withKeyCodec(LongCodec)
          .withNativeRocksDb()
          .createNewValueState("Count", counts, LongCodec)
          .writeAll(chainDirs(0))
        // increment 1: double every key < 120, delete [300, 400)
        val ups1 = counts.filter(_._1 < 120).map { case (k, v) =>
          StateRowEncoder.valueRow("Count", k, v * 2, LongCodec, LongCodec,
            maxPar)
        }
        val dels1 = counts.filter(r => r._1 >= 300 && r._1 < 400)
          .map { case (k, _) =>
            StateRowEncoder.valueRow("Count", k, 0L, LongCodec, LongCodec,
              maxPar)
          }
        val meta2 = StateMaintenance.incrementalUpdate(
          s, Savepoints.load(meta1.basePath), "compact-gate", ups1, dels1,
          chainDirs(1))
        // increment 2: double the < 60 keys again (net x4)
        val ups2 = counts.filter(_._1 < 60).map { case (k, v) =>
          StateRowEncoder.valueRow("Count", k, v * 4, LongCodec, LongCodec,
            maxPar)
        }
        val dels2 = counts.filter(_ => false).map { case (k, _) =>
          StateRowEncoder.valueRow("Count", k, 0L, LongCodec, LongCodec,
            maxPar)
        }
        val meta3 = StateMaintenance.incrementalUpdate(
          s, Savepoints.load(meta2.basePath), "compact-gate", ups2, dels2,
          chainDirs(2))
        // COMPACT: fold the chain's live state into one full savepoint
        val live = Savepoints
          .reader(s, Savepoints.load(meta3.basePath), "compact-gate")
          .readValueStates[Long, Long]("Count")
        val compacted = Savepoints
          .writer(s, Savepoints.bootstrap("compact-gate", 4, maxPar),
            "compact-gate")
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", live, LongCodec)
          .writeAll(TempDirs.create("graft-sp36d"))
        val result = Savepoints.load(compacted.basePath)
        // retire the ENTIRE chain before the lazy read below runs: the
        // oracle row exists only if compaction is truly self-contained
        chainDirs.foreach(p =>
          TempDirs.deleteNow(java.nio.file.Paths.get(p)))
        Savepoints.reader(s, result, "compact-gate")
          .readValueStates[Long, Long]("Count")
          .toDF("key", "cnt")
      })
  )

  /** Value row whose payload carries Flink's TtlValue wrapper: an
    * 8-byte big-endian last-access timestamp before the value
    * (reference KeyedStateReader.java:279-283).
    */
  private[state] def ttlValueRow(name: String, key: Long, ts: Long,
      value: Long, maxPar: Int): KeyedStateRow = {
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, maxPar), maxPar)
    LongCodec.write(w, key)
    Codecs.VoidNamespaceCodec.write(w, ())
    val vw = new ByteWriter()
    LongCodec.write(vw, ts)
    LongCodec.write(vw, value)
    KeyedStateRow(name, w.toBytes, vw.toBytes)
  }

  /** [prefix][key][namespace] row carrying a packed list value. */
  private[state] def listRow(name: String, key: Long, value: Array[Byte],
      maxPar: Int): KeyedStateRow = {
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, maxPar), maxPar)
    LongCodec.write(w, key)
    Codecs.VoidNamespaceCodec.write(w, ())
    KeyedStateRow(name, w.toBytes, value)
  }

  /** Window-state row: [prefix][key][TimeWindow(start,end) namespace]
    * with a plain value payload (reference window-contents layout).
    */
  private[graft] def windowRow(key: Long, start: Long, end: Long,
      value: Long, maxPar: Int): KeyedStateRow = {
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, maxPar), maxPar)
    LongCodec.write(w, key)
    Codecs.FlinkTimeWindowCodec.write(w, (start, end))
    KeyedStateRow(OperatorStateReader.WindowContents, w.toBytes,
      LongCodec.toBytes(value))
  }

  /** Raw keyed-state section for sp23: a KEY_GROUPS handle whose inline
    * delegate payload is the 8-byte big-endian encoding of `v` — valid
    * Flink handle grammar, opaque payload.
    */
  private def rawKeyedSectionWith(v: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeByte(3)  // KEY_GROUPS_HANDLE
    d.writeInt(0); d.writeInt(1); d.writeLong(0L)
    d.writeByte(1)  // inline byte-stream delegate
    d.writeUTF("raw-keyed")
    d.writeInt(8); d.writeLong(v)
    d.flush(); bos.toByteArray
  }

  /** Raw operator-state section for sp23 (bytes after the presence
    * flag): a PARTITIONABLE handle with an inline delegate encoding `v`.
    */
  private def rawOperatorSectionWith(v: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeByte(4)  // PARTITIONABLE_OPERATOR_STATE_HANDLE
    d.writeInt(1)
    d.writeUTF("timers"); d.writeByte(0)
    d.writeInt(1); d.writeLong(0L)
    d.writeByte(1)  // inline byte-stream delegate
    d.writeUTF("raw-op")
    d.writeInt(8); d.writeLong(v)
    d.flush(); bos.toByteArray
  }

  /** Extract the 8-byte payload from a roundtripped raw section built by
    * the two helpers above (the inline delegate's bytes are the LAST
    * 8 + 4(len) of the section, preceded by the UTF name).
    */
  private def decodeInlinePayload(section: Array[Byte]): Long = {
    val d = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(section, section.length - 8, 8))
    d.readLong()
  }

  /** Map-state row: [prefix][key][namespace][mapKey] + null-marked value
    * (reference MapStateKKVReader.java:50-82 layout).
    */
  private[state] def mapRow(name: String, key: Long, mapKey: String,
      value: Long, maxPar: Int): KeyedStateRow = {
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, maxPar), maxPar)
    LongCodec.write(w, key)
    Codecs.VoidNamespaceCodec.write(w, ())
    StringCodec.write(w, mapKey)
    val vw = new ByteWriter()
    vw.writeBoolean(false)
    LongCodec.write(vw, value)
    KeyedStateRow(name, w.toBytes, vw.toBytes)
  }
}
