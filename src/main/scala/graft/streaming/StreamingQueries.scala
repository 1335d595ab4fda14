package graft.streaming

import graft.{Catalog, Materialize, QueryDef}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ListBuffer

/** Event row for the sessionizer (event time already floored to ms). */
final case class SessEvent(user_id: Long, event_id: Long, ts_ms: Long)

/** One user session: consecutive events with < 30 min gaps. */
final case class UserSession(
    user_id: Long, session_id: Int, n_events: Long, start_ms: Long, end_ms: Long)

/** Structured Streaming surface: the `events` parquet drives real
  * `readStream` queries — windowed aggregation (complete mode),
  * stateful sessionization (flatMapGroupsWithState), and watermarked
  * append-mode windows — executed synchronously
  * (`processAllAvailable`) so each is checkable against a batch DuckDB
  * oracle.
  */
object StreamingQueries {

  private val counter = new AtomicInteger(0)
  // Stateful streaming ops open one state store PER shuffle partition
  // (stream-stream joins open four); at test scale the store setup
  // dominates, so every stream of this family runs with few partitions.
  // A real deployment sizes this to keyspace/executor count instead.
  // Borrowed through Catalog.withConfs, so batch queries keep the
  // session default. A stream gives it back only after
  // processAllAvailable/stop: micro-batch planning reads the conf
  // lazily during the run, not at start().
  private[graft] val StreamStatePartitions = "spark.sql.shuffle.partitions" -> "8"
  private val GapMs = 1800000L
  private val GapMs2 = 3600000L // st04 attribution window (1 hour in ms)
  // st28 monitor family: a fixed 4-band × 12-bit PREFIX of the maximal
  // adaptive plane family (stride AdMaxBits) — fixed because a stream
  // cannot count its corpus up front. Prefix means a 12-bit monitor
  // bucket is the exact UNION of 2^(rowBits−12) buckets of any FINER
  // ladder tier (rowBits > 12): tier occupancy derives from the monitor
  // reading by dividing by that factor. The relation is exact equality
  // only at rowBits = 12; for COARSER tiers (rowBits < 12) it runs the
  // other way — the tier bucket is the union of 2^(12−rowBits) monitor
  // buckets. And only bands 0–3 are monitored (tiers with more bands
  // have unmonitored bands; each band is an iid view of the same
  // occupancy, so 4 suffice for the signal). Coarser-or-finer, the
  // monitor is never misaligned with a tier — every boundary is a
  // prefix-mask boundary.
  // st29 shares d11's benchmark-set rule (doc_id % EvalMod == 0)
  private val EvalMod = graft.llm.Pipeline.EvalMod

  private val MonBands = 4
  private val MonBits = 12

  /** Shared scaffold: build a streaming DataFrame over the events table,
    * run it into a uniquely-named memory sink, and return the
    * materialized table. The `ts` column is normalized to TimestampType
    * via [[Catalog.normalizeTs]] BEFORE `build` sees the frame, so query
    * builders are independent of how the driver's parquet encoded event
    * time (int64 nanos vs timestamp[us] NTZ). The stream runs in a
    * [[Materialize.scoped]] block, so the pins `build` takes (the
    * stream-static corpus indexes) are released once it stops.
    */
  private def runToMemorySink(
      s: SparkSession, d: String, tag: String, outputMode: String,
      table: String = "events")(
      build: DataFrame => DataFrame): DataFrame = {
    val rawSchema = s.read.parquet(s"$d/$table.parquet").schema
    val name = s"${tag}_mem_${counter.incrementAndGet()}"
    Catalog.withConfs(s, StreamStatePartitions)(Materialize.scoped { _ =>
      // readStream requires a directory: stream the sf dir, globbed to
      // the events table only
      val raw = Catalog.normalizeTs(s.readStream.schema(rawSchema)
        .option("pathGlobFilter", s"$table.parquet").parquet(d))
      val q = build(raw).writeStream
        .outputMode(outputMode).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    })
    // the memory table lives in the session after stop
    s.table(name)
  }

  /** st04's stream-stream self-join: click-to-purchase pairs within the
    * preceding hour, both sides watermarked so join state is bounded
    * (SURVEY §2.11 → Structured Streaming joins). The coarse timestamp
    * band gives Spark its state-retention bound; the exact predicate is
    * on ms bigints so the emitted set matches the batch oracle
    * bit-for-bit (a timestamp-only predicate could disagree with the
    * oracle's ms-floored compare on sub-ms boundaries). `joinType`
    * "leftOuter" is st10: purchases no click matches are emitted too.
    */
  private[graft] def clickToPurchase(raw: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val ev = raw.select(col("event_id"), col("user_id"), col("event_type"),
      col("ts"), unix_millis(col("ts")).as("ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"), col("ms").as("pms"))
      .withWatermark("pts", "1 hour")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cuser"),
        col("ts").as("cts"), col("ms").as("cms"))
      .withWatermark("cts", "1 hour")
    p.join(c, col("cuser") === col("user_id")
        && col("cts") >= col("pts") - expr("INTERVAL 61 MINUTES")
        && col("cts") <= col("pts") + expr("INTERVAL 1 SECOND")
        && col("cms") >= col("pms") - GapMs2 && col("cms") < col("pms"),
        joinType)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("pms"), col("cms"))
  }

  def all: Seq[QueryDef] = Seq(
    QueryDef(
      "st01_stream_hourly",
      Some("""SELECT time_bucket(INTERVAL '1 hour', cast(ts as timestamp)) AS window_start,
             |  event_type, count(*) AS n
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st01", "complete") { raw =>
        raw
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      }),

    // Stateful streaming: custom per-key session logic through
    // flatMapGroupsWithState (SURVEY.md §2.11 → Structured Streaming
    // stateful ops). The DuckDB oracle is the batch gap-and-islands
    // formulation of the same 30-minute-gap sessionization.
    QueryDef(
      "st02_sessionize",
      Some(s"""WITH e AS (SELECT user_id, event_id,
              |    epoch_ms(cast(ts as timestamp)) AS ts_ms FROM events),
              |x AS (SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
              |      OR ts_ms - lag(ts_ms) OVER w > $GapMs THEN 1 ELSE 0 END AS new_s
              |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
              |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
              |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM x)
              |SELECT user_id, cast(session_id as int) AS session_id,
              |  count(*) AS n_events, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
              |FROM s GROUP BY user_id, session_id""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st02", "append") { raw =>
        import s.implicits._
        val ev: Dataset[SessEvent] = raw
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ts_ms")) // ms floor, = epoch_ms
          .as[SessEvent]
        ev.groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
            StreamingQueries.sessionize)
          .toDF()
      }),

    // st03: watermarked append-mode windows — only windows closed by the
    // event-time watermark (max event time - 1h) are emitted; the oracle
    // replicates the eviction predicate `window.end <= watermark` in
    // batch SQL. Demonstrates late-data semantics (SURVEY §2.11).
    QueryDef(
      "st03_watermarked_windows",
      Some("""WITH e AS (SELECT time_bucket(INTERVAL '1 hour', cast(ts as timestamp))
             |    AS window_start, event_type FROM events),
             |wm AS (SELECT epoch_ms(max(cast(ts as timestamp))) - 3600000 AS wmms
             |  FROM events)
             |SELECT window_start, event_type, count(*) AS n FROM e, wm
             |WHERE epoch_ms(window_start) + 3600000 <= wmms
             |GROUP BY window_start, event_type""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st03", "append") { raw =>
        raw
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      }),

    // st04: stream-stream self-join — click-to-purchase pairs within the
    // preceding hour ([[clickToPurchase]]).
    QueryDef(
      "st04_stream_stream_join",
      Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
              |    epoch_ms(cast(ts as timestamp)) AS ms FROM events)
              |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
              |  p.user_id, p.ms AS pms, c.ms AS cms
              |FROM ev p JOIN ev c ON p.event_type = 'purchase'
              |  AND c.event_type = 'click' AND c.user_id = p.user_id
              |  AND c.ms >= p.ms - $GapMs2 AND c.ms < p.ms""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st04", "append")(clickToPurchase(_))),

    // st05: streaming dedup — dropDuplicates over the key projection
    // emits exactly the distinct key set (keys only, so the emitted set
    // is independent of arrival order and the oracle is plain DISTINCT).
    QueryDef(
      "st05_stream_dedup",
      Some("SELECT DISTINCT user_id, event_type FROM events"),
      (s, d) => runToMemorySink(s, d, "st05", "append") { raw =>
        raw.select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
      }),

    // st06: stream-static join — the streaming events enrich against the
    // static customer dimension (broadcast per micro-batch, no state
    // store), then aggregate purchase value by market segment in cents.
    QueryDef(
      "st06_stream_static_join",
      Some("""SELECT c.c_mktsegment, count(*) AS n_purchases,
             |  cast(sum(cast(round(e.value * 100) as bigint)) as double) / 100
             |    AS total_value
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |WHERE e.event_type = 'purchase'
             |GROUP BY c.c_mktsegment""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st06", "complete") { raw =>
        val dim = Catalog.t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        raw.filter(col("event_type") === "purchase")
          .select(col("user_id"),
            expr("cast(round(value * 100) as bigint)").as("v100"))
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_purchases"),
            (sum(col("v100")).cast("double") / 100).as("total_value"))
      }),

    // st07: keyless global streaming aggregate (complete mode, one
    // running row) — the simplest stateful streaming shape, kept exact
    // with cents arithmetic.
    QueryDef(
      "st07_stream_global_agg",
      Some("""SELECT count(*) AS n_events,
             |  cast(sum(cast(round(value * 100) as bigint)) as double) / 100
             |    AS total_value,
             |  cast(max(cast(round(value * 100) as bigint)) as double) / 100
             |    AS max_value
             |FROM events""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st07", "complete") { raw =>
        // no DISTINCT aggregates here: streaming rejects them
        raw.agg(count(lit(1)).as("n_events"),
          (sum(expr("cast(round(value * 100) as bigint)")).cast("double") / 100)
            .as("total_value"),
          (max(expr("cast(round(value * 100) as bigint)")).cast("double") / 100)
            .as("max_value"))
      }),

    // st08: THE reference's raison d'être closed end-to-end in Spark —
    // bootstrap a streaming job's state from a savepoint (README.md:
    // 41-44 use-case 2). Per-user counts of the "historical" half of
    // events are written into a REAL-Flink-layout savepoint, read back
    // through the typed state reader, and fed as the INITIAL STATE of
    // a Structured Streaming mapGroupsWithState over the "live" half.
    // The streamed totals must continue exactly from the snapshot, so
    // the oracle is the plain batch count over BOTH halves (restricted
    // to users that appear in the live stream, which is every user
    // with an odd event — initial-state-only keys emit on first data).
    QueryDef(
      "st08_bootstrap_from_savepoint",
      Some("""SELECT user_id, count(*) AS n_total FROM events
             |WHERE user_id IN (SELECT DISTINCT user_id FROM events
             |                  WHERE event_id % 2 = 1)
             |GROUP BY user_id""".stripMargin),
      (s, d) => {
        import s.implicits._
        import graft.core.codec.Codecs.LongCodec
        import graft.state.Savepoints
        // 1. "historical" state: per-user count of even events, frozen
        //    into a Flink-dialect savepoint
        val seed = Catalog.t(s, d, "events")
          .filter(col("event_id") % 2 === 0)
          .groupBy(col("user_id")).count()
          .as[(Long, Long)]
        val spDir = graft.TempDirs.create("graft-st08") + "/sp"
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("live-counts", 4, 128), "live-counts")
          .withDialect(graft.core.meta.Dialect.Flink)
          .withKeyCodec(LongCodec)
          .createNewValueState("Count", seed, LongCodec)
          .writeAll(spDir)
        // 2. savepoint -> typed state -> streaming initial state. The
        //    boolean marks "emitted in a prior micro-batch": like st02,
        //    this single-batch demo fails LOUDLY if the source ever
        //    splits the live events across batches (update-mode memory
        //    sink would append a second row per user and silently
        //    corrupt the totals).
        val initial = Savepoints.reader(s, Savepoints.load(meta.basePath), "live-counts")
          .readValueStates[Long, Long]("Count")
          .groupByKey(_._1).mapValues(v => (v._2, false))
        // 3. live stream = odd events, counts continue from the snapshot
        runToMemorySink(s, d, "st08", "update") { raw =>
          raw.filter(col("event_id") % 2 === 1)
            .select(col("user_id")).as[Long]
            .groupByKey(identity)
            .mapGroupsWithState(GroupStateTimeout.NoTimeout, initial) {
              (user: Long, events: Iterator[Long], state: GroupState[(Long, Boolean)]) =>
                val (seed, emitted) = state.getOption.getOrElse((0L, false))
                if (emitted)
                  throw new IllegalStateException(
                    s"st08 saw key $user in a second micro-batch; totals " +
                      "would double-emit — deploy with a real sink/output mode")
                val total = seed + events.size
                state.update((total, true))
                (user, total)
            }
            .toDF("user_id", "n_total")
        }
      }),

    // st09: BUILT-IN session windows — `session_window(ts, gap)` merges
    // per-key events whose windows overlap (break when the gap between
    // consecutive events is >= 30 min), the native complement to st02's
    // hand-rolled flatMapGroupsWithState sessionizer. Append mode emits
    // a session once the watermark passes its end. Precision notes the
    // oracle mirrors: Spark event time has MICROS precision,
    // but tracks the WATERMARK in ms (EventTimeWatermarkExec divides by
    // 1000), so eviction compares end_us <= (max_ms - delay_ms) * 1000.
    QueryDef(
      "st09_session_window",
      Some(s"""WITH e AS (SELECT user_id, epoch_us(cast(ts as timestamp)) AS ts_us
              |  FROM events),
              |x AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
              |      OR ts_us - lag(ts_us) OVER w >= ${GapMs}000 THEN 1 ELSE 0 END AS new_s
              |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
              |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
              |    ROWS UNBOUNDED PRECEDING) AS sid FROM x),
              |g AS (SELECT user_id, sid, count(*) AS n, min(ts_us) AS start_us,
              |    max(ts_us) + ${GapMs}000 AS end_us FROM s GROUP BY 1, 2),
              |wm AS (SELECT (epoch_ms(max(cast(ts as timestamp))) - 3600000) * 1000
              |    AS wmus FROM events)
              |SELECT user_id, start_us, end_us, n FROM g, wm
              |WHERE end_us <= wmus""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st09", "append") { raw =>
        raw
          .withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n"))
      }),

    // st10: LEFT OUTER stream-stream interval join — st04's
    // click-to-purchase attribution, but purchases with no qualifying
    // click are also emitted (null click) once the watermark proves no
    // future click can match. The outer-null set is watermark-gated:
    // a purchase at pts can still match clicks with cts <= pts + 1s,
    // so its state is evictable (and the null row emitted) only when
    // the global watermark passes pts + 1s. The oracle reproduces the
    // eviction bound in exact microseconds (Spark tracks watermarks in
    // ms; both sides' max event times are ms-floored before the 1h
    // delay subtraction, and the global watermark is their min).
    QueryDef(
      "st10_interval_outer_join",
      Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
              |    epoch_ms(cast(ts as timestamp)) AS ms,
              |    epoch_us(cast(ts as timestamp)) AS us FROM events),
              |m AS (SELECT p.event_id AS purchase_id, c.event_id AS click_id,
              |    p.user_id, p.ms AS pms, c.ms AS cms
              |  FROM ev p JOIN ev c ON p.event_type = 'purchase'
              |    AND c.event_type = 'click' AND c.user_id = p.user_id
              |    AND c.ms >= p.ms - $GapMs2 AND c.ms < p.ms),
              |wm AS (SELECT (least(
              |    (SELECT max(ms) FROM ev WHERE event_type = 'purchase'),
              |    (SELECT max(ms) FROM ev WHERE event_type = 'click'))
              |    - 3600000) * 1000 AS wmus),
              |um AS (SELECT p.event_id AS purchase_id,
              |    cast(NULL as bigint) AS click_id, p.user_id, p.ms AS pms,
              |    cast(NULL as bigint) AS cms
              |  FROM ev p, wm WHERE p.event_type = 'purchase'
              |    AND p.us + 1000000 < wm.wmus
              |    -- equality anti join against the matched set (a
              |    -- correlated range NOT EXISTS nested-loops at sf0.1)
              |    AND p.event_id NOT IN (SELECT purchase_id FROM m))
              |SELECT * FROM m UNION ALL SELECT * FROM um""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st10", "append")(
        clickToPurchase(_, "leftOuter"))),

    // st11: foreachBatch parquet sink — the production export path
    // (streams land in a lake table, not a memory sink). Each
    // micro-batch appends to a parquet dir; a real pipeline makes the
    // write idempotent per (target, batchId) for exactly-once across
    // restarts — a single gate run appends each batch exactly once, so
    // the landed table must equal the batch SQL over the same input.
    QueryDef(
      "st11_foreachbatch_sink",
      Some("""SELECT event_id, user_id,
             |  cast(round(value * 100) as bigint) AS cents
             |FROM events WHERE event_type = 'purchase'""".stripMargin),
      (s, d) => {
        val rawSchema = s.read.parquet(s"$d/events.parquet").schema
        // the returned DataFrame lazily SCANS outDir, so it cannot be
        // deleted inline — it is cleaned at JVM exit; the checkpoint
        // dir is not referenced by the result and is deleted as soon as
        // the stream stops
        val outDir = graft.TempDirs.create("graft-st11-out")
        graft.TempDirs.scoped("graft-st11-ckpt") { ckpt =>
          Catalog.withConfs(s, StreamStatePartitions) {
            val raw = s.readStream.schema(rawSchema)
              .option("pathGlobFilter", "events.parquet").parquet(d)
            val q = raw.filter(col("event_type") === "purchase")
              .select(col("event_id"), col("user_id"),
                expr("cast(round(value * 100) as bigint)").as("cents"))
              .writeStream
              .option("checkpointLocation", ckpt.toString)
              // exactly-once across restarts: (target, batchId) is the
              // write key (StreamingSinkSpec proves replay + restart)
              .foreachBatch(StreamingQueries.idempotentParquetBatchWriter(outDir))
              .start()
            try q.processAllAvailable() finally q.stop()
          }
        }
        s.read.parquet(outDir).select("event_id", "user_id", "cents")
      }),

    // st12: streaming ingest dedup — the rolling-pipeline form of d17.
    // New documents arrive as a STREAM and check their prefix
    // fingerprints against the static corpus index per micro-batch
    // (stream-static left join: no state store, no watermark — the
    // index is the only persisted artifact, exactly how a 100 TB lake
    // dedups its ingest without rescanning itself). Same oracle as the
    // batch operator: streaming must not change the answer.
    QueryDef(
      "st12_stream_ingest_dedup",
      Some(graft.llm.Dedup.incrementalOracle),
      (s, d) => runToMemorySink(s, d, "st12", "append", table = "documents") {
        raw =>
          graft.llm.Dedup.incrementalDedup(
            Catalog.t(s, d, "documents").filter(col("doc_id") % 5 =!= 0),
            raw.filter(col("doc_id") % 5 === 0))
      }),

    // st13: the reverse of st08 — a STREAMING aggregation exported INTO
    // a savepoint. The hourly windowed counts stream to completion,
    // then land as real window-contents state (TimeWindow namespaces,
    // sp19's layout) that a Flink window operator could restore from;
    // the reloaded savepoint must decode back to the hourly SQL. This
    // closes the reference's loop in both directions: savepoint →
    // analytics (the read path), analytics → savepoint (bootstrap), and
    // now stream → savepoint (state materialization).
    QueryDef(
      "st13_stream_to_savepoint",
      Some("""WITH e AS (SELECT user_id,
             |    epoch_ms(cast(ts as timestamp)) // 3600000 AS hr
             |  FROM events WHERE user_id < 50)
             |SELECT user_id AS key, hr * 3600000 AS window_start,
             |  (hr + 1) * 3600000 AS window_end, count(*) AS cnt
             |FROM e GROUP BY user_id, hr""".stripMargin),
      (s, d) => {
        import s.implicits._
        import graft.core.codec.Codecs
        import graft.core.meta.{StateKind, StateMeta}
        import graft.state.{OperatorStateReader, Savepoints, StateQueries}
        val maxPar = 128
        val agg = runToMemorySink(s, d, "st13", "complete") { raw =>
          raw.filter(col("user_id") < 50)
            .groupBy(col("user_id"), window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("cnt"))
            .select(col("user_id"),
              expr("unix_millis(window.start)").as("ws"),
              expr("unix_millis(window.end)").as("we"), col("cnt"))
        }
        val rows = agg.as[(Long, Long, Long, Long)]
          .map { case (k, ws, we, v) =>
            StateQueries.windowRow(k, ws, we, v, maxPar)
          }
        val outDir = graft.TempDirs.create("graft-st13")
        val meta = Savepoints
          .writer(s, Savepoints.bootstrap("stream-win", 4, maxPar), "stream-win")
          .withKeyCodec(Codecs.LongCodec)
          .defineState(StateMeta(OperatorStateReader.WindowContents,
            StateKind.Value, "long", None, Codecs.FlinkTimeWindowCodec.id))
          .addKeyedStateRows(rows)
          .writeAll(outDir)
        Savepoints.reader(s, Savepoints.load(meta.basePath), "stream-win")
          .readWindowStatesWithBounds[Long, Long]()
          .toDF("key", "window_start", "window_end", "cnt")
      }),

    // st14: the Misra-Gries sketch (t24's graft_mg) INSIDE a streaming
    // aggregation — partial sketch buffers live in the state store and
    // merge across micro-batches, so the sketch survives restarts like
    // any streaming agg state. m=64 >= the event-type cardinality, so
    // the streamed sketch must equal the exact batch frequency table
    // (same oracle as a plain batch GROUP BY) — streaming provably does
    // not change the answer.
    QueryDef(
      "st14_stream_heavy_hitters",
      Some("""SELECT event_type AS term, count(*) AS cnt FROM events
             |GROUP BY event_type ORDER BY cnt DESC, term ASC""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val mem = runToMemorySink(s, d, "st14", "complete") { raw =>
          raw.agg(expr("graft_mg(event_type, 64)").as("hh"))
        }
        mem.select(explode(col("hh")).as("e"))
          .select(col("e.term").as("term"), col("e.cnt").as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc)
      }),

    // st27: STREAMING KMV distinct-count monitor — completes the
    // mergeable-sketch streaming trio (st14 Misra-Gries heavy hitters,
    // st26 histogram quantiles, st27 KMV cardinality): per event type,
    // the k-minimum-values sketch of the user population maintained by
    // a live stream. State per group is ≤ k longs regardless of
    // arrival volume (the TypedImperativeAggregate's partial buffers
    // merge across micro-batches exactly like st14's MG sketch), and
    // the distinct-count estimate extracts at read time with q72's
    // integer estimator. The exact per-type cardinality rides along
    // from a batch audit read — the s04/q72 idiom: the gate verifies
    // the estimator, a production run keeps only the sketch half.
    QueryDef(
      "st27_stream_kmv_ndv",
      // The population is NON-NULL user keys on BOTH sides (a NULL key
      // is an instrumentation defect, not an audience member): Spark's
      // countDistinct excludes NULL while a DuckDB count(*) over the
      // distinct pairs would include it, so the explicit filter is
      // what keeps exact_ndv a cross-engine fact (q72 carries the
      // same law).
      Some(s"""WITH uu AS (SELECT DISTINCT event_type, user_id FROM events
             |  WHERE user_id IS NOT NULL),
             |h AS (SELECT event_type,
             |    ${graft.llm.TextExprs.duckWordHash("cast(user_id as varchar)")}
             |      AS h FROM uu),
             |sk AS (SELECT event_type,
             |    list_sort(list_distinct(list(h))) AS fl,
             |    count(*) AS exact_ndv FROM h GROUP BY 1),
             |es AS (SELECT event_type, exact_ndv,
             |    ${graft.functions.KmvEstimator.duck("fl",
                    graft.relational.RelationalQueries4.KmvK)} AS est
             |  FROM sk)
             |SELECT event_type, cast(est as bigint) AS est_ndv,
             |  cast(exact_ndv as bigint) AS exact_ndv,
             |  cast(abs(est - exact_ndv) * 1000000 // exact_ndv as bigint)
             |    AS err_ppm
             |FROM es""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val k = graft.relational.RelationalQueries4.KmvK
        val sk = runToMemorySink(s, d, "st27", "complete") { raw =>
          raw.filter(col("user_id").isNotNull)
            .select(col("event_type"),
              expr("graft_polyhash32(cast(user_id as string))").as("h"))
            .groupBy(col("event_type"))
            .agg(expr(s"graft_kmin(h, $k)").as("hs"))
        }
        val est = sk.select(col("event_type"),
          expr(graft.functions.KmvEstimator.spark("hs", k)).as("est_ndv"))
        val exact = Catalog.t(s, d, "events")
          .filter(col("user_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_ndv"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("est_ndv").cast("long"),
            col("exact_ndv").cast("long"),
            expr("abs(est_ndv - exact_ndv) * 1000000 div exact_ndv")
              .cast("long").as("err_ppm"))
      }),

    // st28: STREAMING LSH band-occupancy monitor — the ingest-time
    // saturation signal for round-12's adaptive family: as embedding
    // vectors arrive, maintain per-(band, bucket) occupancy under the
    // fixed 4×12 MONITOR prefix of the maximal plane family (bands
    // 0..3, low 12 bits of each). State is bounded by the KEY SPACE
    // (≤ 4·4096 counts), never by arrival volume — the st23 idiom;
    // the read-time report is 4 rows: per band, buckets used, the
    // hottest bucket's occupancy, and total vectors. Reading the
    // signal: a 12-bit monitor bucket aggregates 2^(rowBits−12)
    // buckets of a finer ladder tier, so the per-tier occupancy
    // estimate is max_occupancy >> (rowBits−12) — compare THAT to the
    // ladder's target before raising the tier (the raw monitor number
    // over-signals by exactly that power of two at high tiers). The
    // streaming complement of d29's batch report. Oracle = the same
    // band keys over the batch table (kappa equivalence is the gate).
    QueryDef(
      "st28_stream_band_occupancy",
      Some {
        val bandSelects = graft.llm.Similarity.duckBandKeys(
          MonBands, MonBits, graft.llm.Similarity.AdMaxBits)
        s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS va
           |  FROM embeddings),
           |n AS (SELECT vec_id, va FROM v),
           |k AS ($bandSelects),
           |occ AS (SELECT band, bk, count(*) AS n FROM k GROUP BY 1, 2)
           |SELECT cast(band as bigint) AS band,
           |  cast(count(*) as bigint) AS n_buckets_used,
           |  cast(max(n) as bigint) AS max_occupancy,
           |  cast(sum(n) as bigint) AS n_vecs
           |FROM occ GROUP BY band""".stripMargin
      },
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val structs = graft.llm.Similarity.bandKeyStructs(
          MonBands, MonBits, graft.llm.Similarity.AdMaxBits)
        val occ = runToMemorySink(s, d, "st28", "complete",
          table = "embeddings") { raw =>
          raw.select(explode(expr(s"array($structs)")).as("bb"))
            .select(col("bb.band").as("band"), col("bb.bk").as("bk"))
            .groupBy(col("band"), col("bk"))
            .agg(count(lit(1)).as("n"))
        }
        occ.groupBy(col("band"))
          .agg(count(lit(1)).as("n_buckets_used"),
            max(col("n")).as("max_occupancy"),
            sum(col("n")).as("n_vecs"))
          .select(col("band").cast("long").as("band"),
            col("n_buckets_used").cast("long").as("n_buckets_used"),
            col("max_occupancy").cast("long").as("max_occupancy"),
            col("n_vecs").cast("long").as("n_vecs"))
      }),

    // st29: STREAMING contamination firewall — the decontamination
    // gate run AT INGEST instead of as a batch sweep (d11's streaming
    // complement, reported per source): arriving train docs shingle
    // NARROWLY (per-row explode, no stateful op), stream-static join
    // the benchmark shingle set, and ONE complete-mode aggregation
    // keyed (doc, source) carries the per-doc contaminated flag
    // (max over shingle hits — idempotent, so the un-deduped explode
    // is fine). The per-source rollup runs batch-side on the sink
    // (st28's idiom: stream holds the minimal keyed state, reads
    // aggregate it). State bound: one row per arrived doc — the same
    // bound st05's dedup carries, not shingle-cardinality.
    QueryDef(
      "st29_stream_contamination_gate",
      Some {
        import graft.llm.TextExprs.{duckWords, duckShingles}
        s"""WITH d AS (SELECT doc_id, source, $duckWords AS w FROM documents),
           |s AS (SELECT DISTINCT doc_id, unnest($duckShingles) AS sh FROM d),
           |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % $EvalMod = 0),
           |tr AS (SELECT doc_id, source FROM d WHERE doc_id % $EvalMod <> 0),
           |bad AS (SELECT DISTINCT s.doc_id FROM s JOIN ev USING (sh)
           |  WHERE s.doc_id % $EvalMod <> 0),
           |a AS (SELECT tr.source, count(*) AS n_docs,
           |    count(bad.doc_id) AS n_contaminated
           |  FROM tr LEFT JOIN bad ON tr.doc_id = bad.doc_id GROUP BY 1)
           |SELECT source, cast(n_docs as bigint) AS n_docs,
           |  cast(n_contaminated as bigint) AS n_contaminated,
           |  cast(n_contaminated * 1000000 // n_docs as bigint)
           |    AS contamination_fx
           |FROM a""".stripMargin
      },
      (s, d) => {
        import graft.llm.TextExprs.{sparkWords, sparkShingles}
        val ev = Catalog.t(s, d, "documents")
          .filter(col("doc_id") % EvalMod === 0)
          .withColumn("w", expr(sparkWords))
          .select(explode(expr(sparkShingles)).as("sh")).distinct()
          .withColumn("hit", lit(1))
        val flags = runToMemorySink(s, d, "st29", "complete",
          table = "documents") { raw =>
          raw.filter(col("doc_id") % EvalMod =!= 0)
            .withColumn("w", expr(sparkWords))
            .select(col("doc_id"), col("source"),
              explode_outer(expr(sparkShingles)).as("sh"))
            .join(ev, Seq("sh"), "left")
            .groupBy(col("doc_id"), col("source"))
            .agg(max(coalesce(col("hit"), lit(0))).as("contaminated"))
        }
        flags.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("contaminated")).as("n_contaminated"))
          .select(col("source"),
            col("n_docs").cast("long").as("n_docs"),
            col("n_contaminated").cast("long").as("n_contaminated"),
            expr("n_contaminated * 1000000 div n_docs")
              .cast("long").as("contamination_fx"))
      }),

    // st30: STREAMING count-min frequency sketch — q77's 4×64 grid
    // maintained by a live complete-mode stream: every arriving event
    // explodes to its 4 (row, bucket) cells and ONE keyed count holds
    // the state, bounded by the GRID (≤256 counters) at any arrival
    // volume — the st26/st27 minimal-keyed-state idiom applied to
    // point-frequency queries ("how often did key X occur so far" from
    // fixed memory). Estimates extract at read time with the shared
    // batch probe (top-10 exact-heavy users as the audit baseline);
    // the oracle is q77's VERBATIM — the streaming grid must equal the
    // batch grid cell-for-cell (kappa equivalence).
    QueryDef(
      "st30_stream_countmin",
      Some(graft.relational.RelationalQueries4.cmOracle),
      (s, d) => {
        import graft.relational.RelationalQueries4.{cmCells, cmKeyed,
          countMinEstimates}
        val sketch = runToMemorySink(s, d, "st30", "complete") { raw =>
          cmKeyed(raw)
            .select(posexplode(cmCells).as(Seq("r", "bucket")))
            .groupBy(col("r"), col("bucket"))
            .agg(count(lit(1)).as("cnt"))
        }
        countMinEstimates(sketch, cmKeyed(Catalog.t(s, d, "events")))
      }),

    // st15: STREAMING JSONL ingest — the production arrival loop (docs
    // land as JSONL files, the stream picks each file up exactly once).
    // Same explicit-schema contract as batch i01 (inference would be a
    // full pass per micro-batch), same per-lang fidelity hash, so a
    // defect in the streaming json source or the file tracker breaks
    // the hash gate. maxFilesPerTrigger forces MULTIPLE micro-batches,
    // so the memory-sink total proves cross-batch aggregation state.
    // st16: streaming MinHash-LSH near-dup at ingest — the LSH
    // complement of st12's exact-prefix gate. Arriving docs compute
    // their signature NARROWLY (per-row array HOFs — no stateful
    // aggregation in the stream, no Exchange to produce signatures) and
    // stream-static join the corpus band index. Same answer as the
    // batch formulation by oracle: streaming must not change it.
    QueryDef(
      "st16_stream_minhash_ingest",
      Some(graft.llm.Dedup.streamingMinhashOracle),
      (s, d) => runToMemorySink(s, d, "st16", "append", table = "documents") {
        raw =>
          graft.llm.Dedup.streamingMinhashDedup(
            Catalog.t(s, d, "documents").filter(col("doc_id") % 5 =!= 0),
            raw.filter(col("doc_id") % 5 === 0))
      }),

    // st17: streaming SEMANTIC near-dup at ingest — arriving embeddings
    // assign to their nearest IVF cell narrowly (inline centroid fold,
    // no stateful aggregation) and stream-static join the cell-bucketed
    // corpus; cosine >= 0.4 pairs are flagged. The embedding complement
    // of st16's MinHash gate.
    QueryDef(
      "st17_stream_semantic_ingest",
      Some(graft.llm.Similarity.streamingSemanticOracle),
      (s, d) => runToMemorySink(s, d, "st17", "append", table = "embeddings") {
        raw =>
          graft.llm.Similarity.semanticIngest(
            Catalog.t(s, d, "embeddings"), raw)
      }),

    // st18: streaming SimHash hamming gate at ingest — arriving docs
    // fingerprint narrowly (one codegen'd graft_simhash64 pass, zero
    // Exchange) and pigeonhole-join the corpus 16-bit-chunk index;
    // hamming <= 3 pairs are flagged. Completes the ingest quartet:
    // exact (st12), MinHash (st16), semantic (st17), hamming (st18).
    QueryDef(
      "st18_stream_simhash_ingest",
      Some(graft.llm.Dedup.streamingSimhashOracle),
      (s, d) => runToMemorySink(s, d, "st18", "append", table = "documents") {
        raw =>
          graft.llm.Dedup.streamingSimhashDedup(
            Catalog.t(s, d, "documents").filter(col("doc_id") % 5 =!= 0),
            raw.filter(col("doc_id") % 5 === 0))
      }),

    QueryDef(
      "st15_stream_jsonl_ingest",
      Some(s"""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(${graft.llm.TextExprs.duckWordHash("text")})
              |    AS BIGINT) AS text_hash
              |FROM documents GROUP BY lang""".stripMargin),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val dir = graft.TempDirs.create("graft-st15")
        val docs = graft.Catalog.t(s, d, "documents")
        docs.select("doc_id", "text", "lang").repartition(8)
          .write.mode("overwrite").json(dir)
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string").add("lang", "string")
        val name = s"st15_mem_${counter.incrementAndGet()}"
        // without the family's few-partitions rule each of the three
        // file-trigger batches opened and committed a state store per
        // SESSION shuffle partition (~0.8 s/task of store setup across
        // 32 tasks per batch)
        Catalog.withConfs(s, StreamStatePartitions) {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "3").json(dir)
            .groupBy("lang")
            .agg(count(lit(1)).as("n_docs"),
              sum(expr("graft_polyhash32(text)")).as("text_hash"))
            .writeStream.outputMode("complete")
            .format("memory").queryName(name).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(name)
      }),

    // st19: streaming QUALITY gate at ingest — every arriving document
    // scores narrowly (stopword ratio + length composite, the t02
    // scorer inline: zero Exchange per row) and routes to keep/reject;
    // the sink aggregates the per-(lang, verdict) admission ledger. The
    // completion of the ingest family: after identity (st12), MinHash
    // (st16), semantic (st17), and hamming (st18) dedup gates, this is
    // the content-quality gate the same pipeline runs in front of them.
    QueryDef(
      "st19_stream_quality_gate",
      Some {
        import graft.llm.TextExprs._
        val en = stopwords.toMap.apply("en")
        s"""WITH d AS (SELECT doc_id, lang, $duckWords AS w, text FROM documents),
           |v AS (SELECT lang, len(w) AS n_words,
           |    ((cast(${duckStopHits(en)} as double) / greatest(len(w), 1)) * 0.5
           |      + least(cast(len(w) as double) / 100, 1.0) * 0.5 >= 0.35
           |     AND len(w) >= 5 AND len(w) <= 2000) AS kept
           |  FROM d)
           |SELECT lang, kept, count(*) AS n_docs,
           |  cast(sum(n_words) as bigint) AS n_words
           |FROM v GROUP BY lang, kept""".stripMargin
      },
      (s, d) => runToMemorySink(s, d, "st19", "complete", table = "documents") {
        raw =>
          import graft.llm.TextExprs._
          val en = stopwords.toMap.apply("en")
          raw.withColumn("w", split(col("text"), " "))
            .select(col("lang"),
              expr("cast(size(w) as bigint)").as("n_words"),
              expr(s"((cast(${sparkStopHits(en)} as double) / greatest(size(w), 1)) * 0.5" +
                " + least(cast(size(w) as double) / 100, 1.0) * 0.5 >= 0.35" +
                " AND size(w) >= 5 AND size(w) <= 2000)").as("kept"))
            .groupBy(col("lang"), col("kept"))
            .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
      }),

    // st20: streaming ANOMALY gate — arriving events flag against a
    // STATIC historical profile (per-type mean/stddev derived from
    // exact integer moments, the q40 discipline: fixed-point sums are
    // exact bigints, the closed-form doubles are a deterministic
    // function of them), via one broadcast stream-static join; the sink
    // keeps the per-type admission ledger. This is the production shape
    // for ingest-time outlier detection: the profile refreshes on a
    // batch cadence, the gate itself is a narrow per-row compare —
    // state-free, so it runs at any arrival rate.
    QueryDef(
      "st20_stream_anomaly_gate",
      Some("""WITH e AS (SELECT event_type,
             |    cast(round(value * 100) as bigint) AS v FROM events),
             |p AS (SELECT event_type, count(*) AS n,
             |    sum(cast(v as hugeint)) AS s,
             |    sum(cast(v as hugeint) * cast(v as hugeint)) AS sxx
             |  FROM e GROUP BY event_type),
             |f AS (SELECT e.event_type, v,
             |    cast(s as double) / cast(n as double) AS m,
             |    sqrt((cast(n as double) * cast(sxx as double)
             |        - cast(s as double) * cast(s as double))
             |      / (cast(n as double) * (cast(n as double) - 1))) AS sd
             |  FROM e JOIN p USING (event_type))
             |SELECT event_type, count(*) AS n_events,
             |  cast(sum(CASE WHEN abs(cast(v as double) - m) > 2 * sd
             |    THEN 1 ELSE 0 END) as bigint) AS n_anomalies
             |FROM f GROUP BY event_type""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st20", "complete") { raw =>
        val profile = Catalog.t(s, d, "events")
          .select(col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("v"))
          .groupBy(col("event_type"))
          // 128-bit exact moments (decimal(38) ≙ the oracle's HUGEINT):
          // bigint v*v overflows at |value| > ~3e7, and one extreme
          // event must not abort the profile job. Exact and
          // order-independent either way, so the derived doubles stay
          // bit-identical cross-engine.
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(v as decimal(20, 0))")).as("s"),
            sum(expr("cast(v as decimal(19, 0)) * cast(v as decimal(19, 0))"))
              .as("sxx"))
          .select(col("event_type"),
            expr("cast(s as double) / cast(n as double)").as("m"),
            expr("""sqrt((cast(n as double) * cast(sxx as double)
                   |    - cast(s as double) * cast(s as double))
                   |  / (cast(n as double) * (cast(n as double) - 1)))""".stripMargin)
              .as("sd"))
        raw.select(col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("v"))
          .join(broadcast(profile), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CASE WHEN abs(cast(v as double) - m) > 2 * sd " +
              "THEN 1 ELSE 0 END")).cast("long").as("n_anomalies"))
      }),

    // st21: streaming lateness profile — q58's watermark-sizing report
    // computed BY THE STREAM ITSELF: the per-user running event-time
    // maximum rides in GroupState (correct across micro-batches, unlike
    // a windowed formulation), each arriving event emits its lateness
    // in append mode, and the power-of-2 histogram rolls up on the
    // sink. This is the feedback loop a deployment runs to pick its
    // own `withWatermark` bound — measured on the live stream, not on a
    // batch sample. Oracle: identical to q58 (stream ≡ batch).
    QueryDef(
      "st21_stream_lateness",
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
             |w AS (SELECT user_id, ms,
             |    max(ms) OVER (PARTITION BY user_id ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prevmax FROM e),
             |l AS (SELECT greatest(0, coalesce(prevmax - ms, 0)) AS late
             |  FROM w),
             |b AS (SELECT late, CASE WHEN late = 0 THEN -1
             |    ELSE cast(length(bin(greatest(late // 1000, 1))) - 1 as int)
             |    END AS bucket FROM l),
             |t AS (SELECT count(*) AS total FROM b),
             |g AS (SELECT bucket, count(*) AS n_events,
             |    cast(max(late) as bigint) AS max_lateness_ms
             |  FROM b GROUP BY bucket)
             |SELECT bucket, n_events, max_lateness_ms,
             |  cast(n_events * 1000000 // total as bigint) AS share_fx
             |FROM g, t""".stripMargin),
      (s, d) => {
        val emitted = runToMemorySink(s, d, "st21", "append") { raw =>
          import s.implicits._
          raw.select(col("user_id"), col("event_id"),
              unix_millis(col("ts")).as("ts_ms"))
            .as[SessEvent]
            .groupByKey(_.user_id)
            .flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.NoTimeout())(StreamingQueries.latenessPerKey)
            .toDF("user_id", "event_id", "late")
        }
        val b = emitted.withColumn("bucket",
          expr("""CASE WHEN late = 0 THEN -1
                 |  ELSE cast(length(bin(greatest(late div 1000, 1))) - 1
                 |    as int) END""".stripMargin))
        val total = b.agg(count(lit(1)).as("total"))
        b.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_events"),
            max(col("late")).as("max_lateness_ms"))
          .crossJoin(broadcast(total))
          .select(col("bucket"), col("n_events"), col("max_lateness_ms"),
            expr("cast(n_events * 1000000 div total as bigint)")
              .as("share_fx"))
      }),

    // st22: SLIDING event-time windows — 2-hour windows every 30
    // minutes, so each event lands in exactly 4 overlapping windows
    // (the smoothed-rate view a monitoring dashboard reads; tumbling
    // st01 is the slide == length special case). Spark expands the
    // window set inside the scan stage (narrow), then ONE keyed
    // shuffle into the windowed aggregate; state is bounded by open
    // windows × types. The oracle replays the expansion arithmetic
    // with an explicit k = 0..3 explode: window_start =
    // (⌊ms/slide⌋ − k)·slide, always within [ms − len, ms].
    QueryDef(
      "st22_sliding_windows",
      Some("""WITH e AS (SELECT event_type,
             |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
             |x AS (SELECT event_type,
             |    (ms // 1800000 - k) * 1800000 AS window_start_ms
             |  FROM e, (SELECT unnest(range(0, 4)) AS k) ks)
             |SELECT window_start_ms, event_type, count(*) AS n
             |FROM x GROUP BY 1, 2""".stripMargin),
      (s, d) => runToMemorySink(s, d, "st22", "complete") { raw =>
        raw
          .groupBy(window(col("ts"), "2 hours", "30 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("event_type"), col("n"))
      }),

    // st23: streaming DISTRIBUTION-DRIFT gate — the third leg of the
    // ingest-monitoring trio (st19 per-doc quality, st20 per-event
    // anomaly, st23 population drift): arriving documents histogram by
    // token-length bucket inside the stream (one complete-mode keyed
    // count — ≤10 state rows regardless of arrival volume), and the
    // tiny report derives shares against the static corpus profile at
    // read time. Shares are exact integer parts-per-million (count ×
    // 1e6 div total), so the per-bucket |ref − arriving| drift is
    // bit-deterministic; a curation pipeline alerts when any bucket's
    // drift_ppm crosses its threshold. This is the production shape
    // for detecting upstream scraper/source changes at ingest.
    QueryDef(
      "st23_stream_dist_drift",
      Some("""WITH d AS (SELECT doc_id,
             |    len(string_split(text, ' ')) AS nw FROM documents),
             |b AS (SELECT doc_id,
             |    cast(least(nw // 50, 9) as int) AS bucket FROM d),
             |r AS (SELECT bucket, count(*) AS ref_n FROM b
             |  WHERE doc_id % 5 <> 0 GROUP BY 1),
             |a AS (SELECT bucket, count(*) AS arr_n FROM b
             |  WHERE doc_id % 5 = 0 GROUP BY 1),
             |t AS (SELECT (SELECT sum(ref_n) FROM r) AS rt,
             |    (SELECT sum(arr_n) FROM a) AS at2)
             |SELECT bucket,
             |  cast(coalesce(ref_n, 0) as bigint) AS ref_n,
             |  cast(coalesce(arr_n, 0) as bigint) AS arr_n,
             |  cast(coalesce(ref_n, 0) * 1000000 // rt as bigint) AS ref_ppm,
             |  cast(coalesce(arr_n, 0) * 1000000 // at2 as bigint) AS arr_ppm,
             |  cast(abs(coalesce(ref_n, 0) * 1000000 // rt
             |    - coalesce(arr_n, 0) * 1000000 // at2) as bigint) AS drift_ppm
             |FROM r FULL JOIN a USING (bucket) CROSS JOIN t""".stripMargin),
      (s, d) => {
        def buckets(df: DataFrame): DataFrame = df.select(
          least(expr("size(split(text, ' ')) div 50"), lit(9))
            .cast("int").as("bucket"))
        val arr = runToMemorySink(s, d, "st23", "complete",
          table = "documents") { raw =>
          buckets(raw.filter(col("doc_id") % 5 === 0))
            .groupBy("bucket").agg(count(lit(1)).as("arr_n"))
        }
        val ref = buckets(
          Catalog.t(s, d, "documents").filter(col("doc_id") % 5 =!= 0))
          .groupBy("bucket").agg(count(lit(1)).as("ref_n"))
        // share/drift math over the ≤10-row profiles at read time:
        // exact integer ppm, both totals from the profile rows
        ref.join(arr, Seq("bucket"), "full_outer")
          .na.fill(0L, Seq("ref_n", "arr_n"))
          .crossJoin(ref.agg(sum("ref_n").as("rt"))
            .crossJoin(arr.agg(sum("arr_n").as("at2"))))
          .select(col("bucket"), col("ref_n"), col("arr_n"),
            expr("ref_n * 1000000 div rt").as("ref_ppm"),
            expr("arr_n * 1000000 div at2").as("arr_ppm"),
            expr("abs(ref_n * 1000000 div rt - arr_n * 1000000 div at2)")
              .as("drift_ppm"))
      }),

    // st24: streaming UPSERT snapshot sink — the "materialized keyed
    // table maintained by a stream" pattern (a Delta/Hudi MERGE sink
    // without the table format): each micro-batch pre-aggregates to
    // per-key partial state (count + argmax-by-(ts, event_id) last row
    // — both ASSOCIATIVE, so the result is independent of how the
    // arrivals split into batches), then full-outer merges into the
    // previous snapshot version and writes snapshot v<batchId>. The
    // version chain keys on batchId alone (v_b is a pure function of
    // v_{b-1} + batch b), so a replayed batch rebuilds the SAME
    // version — exactly-once without a transactional sink. At 100 TB
    // the merge is one keyed shuffle of batch-sized deltas against the
    // snapshot, never a rescan of the stream history.
    QueryDef(
      "st24_stream_upsert_sink",
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |    cast(round(value * 100) as bigint) AS cents,
             |    epoch_ms(cast(ts as timestamp)) AS ms FROM events),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY ms DESC, event_id DESC) AS rn FROM e),
             |c AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY 1)
             |SELECT c.user_id, c.n_events, r.event_type AS last_type,
             |  r.cents AS last_cents
             |FROM c JOIN r ON c.user_id = r.user_id AND r.rn = 1""".stripMargin),
      (s, d) => {
        val rawSchema = s.read.parquet(s"$d/events.parquet").schema
        val snapBase = graft.TempDirs.create("graft-st24-snap")
        graft.TempDirs.scoped("graft-st24-ckpt") { ckptPath =>
          Catalog.withConfs(s, StreamStatePartitions) {
            val raw = Catalog.normalizeTs(s.readStream.schema(rawSchema)
              .option("pathGlobFilter", "events.parquet").parquet(d))
            val q = raw.select(col("user_id"), col("event_id"),
                col("event_type"),
                expr("cast(round(value * 100) as bigint)").as("cents"),
                unix_millis(col("ts")).as("ms"))
              .writeStream
              .option("checkpointLocation", ckptPath.toString)
              .foreachBatch(upsertSnapshotWriter(snapBase))
              .start()
            try q.processAllAvailable() finally q.stop()
          }
        }
        latestSnapshot(s, snapBase) match {
          case Some(snap) => snap.select(col("user_id"), col("n_events"),
            col("last.event_type").as("last_type"),
            col("last.cents").as("last_cents"))
          case None => // zero batches ran: an empty stream yields an
            // empty (but correctly-typed) snapshot
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(Seq(
                StructField("user_id", LongType),
                StructField("n_events", LongType),
                StructField("last_type", StringType),
                StructField("last_cents", LongType))))
        }
      }),

    // st26: STREAMING quantile monitor — q71's mergeable histogram
    // sketch maintained by a live stream. The stream side is ONE
    // complete-mode keyed count whose state is bounded by the bucket
    // grid × event types regardless of arrival volume (the st23
    // bounded-state idiom); p50/p95/p99 extraction runs at read time
    // over those ≤|buckets|×|types| rows with q71's exact integer
    // ceil-rank math. This is the operational shape for latency/value
    // percentiles on a live pipeline: the event mass crosses one
    // map-side-combinable shuffle per micro-batch, and no sort of the
    // stream ever happens.
    QueryDef(
      "st26_stream_quantiles",
      Some("""WITH r AS (SELECT event_type,
             |    cast(round(value * 100) as bigint) AS cents FROM events),
             |c AS (SELECT event_type,
             |    (cents - ((cents % 100) + 100) % 100) // 100 AS bucket
             |  FROM r),
             |h AS (SELECT event_type, bucket, count(*) AS c
             |  FROM c GROUP BY 1, 2),
             |x AS (SELECT *, sum(c) OVER (PARTITION BY event_type
             |      ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(c) OVER (PARTITION BY event_type) AS n FROM h)
             |SELECT event_type, cast(max(n) as bigint) AS n_events,
             |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bucket END)
             |    AS p50_bucket,
             |  min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bucket END)
             |    AS p95_bucket,
             |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bucket END)
             |    AS p99_bucket
             |FROM x GROUP BY event_type""".stripMargin),
      (s, d) => {
        // q71's floor-consistent bucket (pmod rewrite, mirrored by the
        // SAME identity in the oracle — both engines' integer division
        // truncates): a fixed-width histogram must floor or the zero
        // bucket is twice as wide as every other (−150 → −2, not −1)
        val bucket = "(cast(round(value * 100) as bigint)" +
          " - pmod(cast(round(value * 100) as bigint), 100)) div 100"
        val hist = runToMemorySink(s, d, "st26", "complete") { raw =>
          raw.select(col("event_type"), expr(bucket).as("bucket"))
            .groupBy(col("event_type"), col("bucket"))
            .agg(count(lit(1)).as("c"))
        }
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("bucket"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        def pick(p: Int) =
          min(when(col("cum") >= expr(s"(n * $p + 99) div 100"),
            col("bucket"))).as(s"p${p}_bucket")
        hist
          .withColumn("cum", sum(col("c")).over(wCum))
          .withColumn("n", sum(col("c")).over(wAll))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n_events"), pick(50), pick(95), pick(99))
      }),

    // st25: versioned-sink VACUUM — the retention/GC policy for st24's
    // snapshot chain, pairing it with sp27's GC discipline (retire
    // exactly what no live reader needs, prove the survivor decodes).
    // The chain v0..v3 is built through the SAME upsertSnapshotWriter
    // st24 uses, with deterministic batch slices (event_id % 4 == b), so
    // every prefix version is a real merge product. The policy keeps the
    // newest 2 versions; the report prices each version BEFORE the
    // vacuum (bounded 1-row aggregates per version — the snapshot stats,
    // never the row data, cross to the driver), then the retired
    // directories are deleted and the newest snapshot is re-read to
    // prove the retained set is exactly the live closure. The oracle
    // recomputes every version's (n_keys, total_events) from the events
    // prefix directly — hash-matching all four rows proves the merge
    // chain is the correct cumulative aggregate at every prefix, not
    // just at the head. At 100 TB: each version write is one keyed
    // shuffle of a batch-sized delta against the snapshot (st24's
    // property), and vacuum is a driver-side handle delete (sp27's
    // property) — nothing here rescans history.
    QueryDef(
      "st25_snapshot_vacuum",
      Some("""WITH vs AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(version)),
             |e AS (SELECT user_id,
             |    ((event_id % 4) + 4) % 4 AS slice FROM events),
             |s AS (SELECT v.version,
             |    count(DISTINCT e.user_id) AS n_keys,
             |    count(e.user_id) AS total_events
             |  FROM vs v LEFT JOIN e ON e.slice <= v.version
             |  GROUP BY v.version)
             |SELECT cast(version as bigint) AS version, n_keys, total_events,
             |  CASE WHEN version >= 2 THEN 'retained' ELSE 'vacuumed' END
             |    AS status
             |FROM s""".stripMargin),
      (s, d) => {
        import s.implicits._
        val NumBatches = 4L
        val RetainFrom = 2L // keep v2, v3; vacuum v0, v1
        val snapBase = graft.TempDirs.create("graft-st25-snap")
        val ev = Catalog.t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("cents"),
            unix_millis(col("ts")).as("ms"))
        val writeSnap = upsertSnapshotWriter(snapBase)
        Catalog.withConfs(s, StreamStatePartitions) {
          // pmod, not %: Spark's % keeps the dividend's sign, so a
          // negative event_id would fall out of EVERY batch slice while
          // the oracle's positive-mod rewrite counts it — the slices
          // must partition the id space on both sides
          (0L until NumBatches).foreach { b =>
            writeSnap(ev.filter(pmod(col("event_id"), lit(NumBatches)) === b), b)
          }
        }
        // price every version BEFORE the vacuum: 1-row bounded aggregate
        // per snapshot (4 rows total to the driver, never row data)
        val stats = (0L until NumBatches).map { b =>
          val r = s.read.parquet(s"$snapBase/v$b")
            .agg(count(lit(1)).as("n_keys"),
              coalesce(sum("n_events"), lit(0L)).as("total_events")).head()
          (b, r.getLong(0), r.getLong(1))
        }
        // vacuum: retire everything older than the retention window
        (0L until RetainFrom).foreach { b =>
          graft.TempDirs.deleteNow(java.nio.file.Paths.get(s"$snapBase/v$b"))
        }
        (0L until RetainFrom).foreach { b =>
          require(!new java.io.File(s"$snapBase/v$b").exists(),
            s"vacuum left v$b behind") }
        // the survivor must still decode — the retained set is the full
        // live closure, not an accident of deletion order
        val headKeys = s.read.parquet(s"$snapBase/v${NumBatches - 1}").count()
        require(headKeys == stats.last._2,
          s"post-vacuum head snapshot lost rows: $headKeys vs ${stats.last._2}")
        stats.map { case (b, k, t) =>
          (b, k, t, if (b >= RetainFrom) "retained" else "vacuumed")
        }.toDF("version", "n_keys", "total_events", "status")
      })
  )

  /** st24's merge step: batch b's per-key partial state (additive count,
    * associative argmax-by-(ms, event_id) last-row pick) full-outer
    * merged with snapshot v_{b-1} into v_b. Deterministic under replay:
    * v_b depends only on (v_{b-1}, batch b), never on mutable session
    * state.
    */
  private[graft] def upsertSnapshotWriter(base: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val s = batch.sparkSession
      val lastCols = struct(col("ms"), col("event_id"),
        col("event_type"), col("cents"))
      val part = batch.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(lastCols).as("last"))
      val prevDir = new java.io.File(s"$base/v${batchId - 1}")
      val merged =
        if (!prevDir.exists()) part
        else {
          val old = s.read.parquet(prevDir.toString)
            .select(col("user_id"), col("n_events").as("o_n"),
              col("last").as("o_last"))
          val nw = part.select(col("user_id"), col("n_events").as("n_n"),
            col("last").as("n_last"))
          old.join(nw, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("o_n"), lit(0L)) + coalesce(col("n_n"), lit(0L)))
                .as("n_events"),
              greatest(col("o_last"), col("n_last")).as("last"))
        }
      merged.write.mode("overwrite").parquet(s"$base/v$batchId")
    }

  /** Highest-version snapshot directory under st24's chain, if any. */
  private def latestSnapshot(s: SparkSession, base: String): Option[DataFrame] = {
    val versions = Option(new java.io.File(base).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(f => scala.util.Try(f.getName.drop(1).toLong).toOption)
    if (versions.isEmpty) None
    else Some(s.read.parquet(s"$base/v${versions.max}"))
  }

  /** Per-user arrival-lateness emitter (st21): events of the micro-batch
    * sort by ingest id; each emits `max(0, runningMax - ts)`; the
    * running maximum survives in GroupState so a key split across
    * micro-batches keeps measuring against its true high-water mark.
    */
  private[graft] def latenessPerKey(user: Long, rows: Iterator[SessEvent],
      state: GroupState[Long]): Iterator[(Long, Long, Long)] = {
    val sorted = rows.toArray.sortBy(_.event_id)
    var mx = state.getOption.getOrElse(Long.MinValue)
    val out = sorted.map { e =>
      val late = if (mx == Long.MinValue) 0L else math.max(0L, mx - e.ts_ms)
      mx = math.max(mx, e.ts_ms)
      (user, e.event_id, late)
    }
    state.update(mx)
    out.iterator
  }

  /** Per-user sessionizer: sort the micro-batch's events, split on >30min
    * gaps. This demo formulation assumes ALL of a user's events arrive in
    * ONE micro-batch (true here: one parquet file, default trigger, no
    * maxFilesPerTrigger). A second batch for the same key would silently
    * split sessions, so the state cell marks the key as processed and any
    * re-invocation fails loudly instead. A continuous deployment would
    * carry the open session in GroupState with an event-time timeout.
    */
  private def sessionize(
      userId: Long,
      events: Iterator[SessEvent],
      state: GroupState[Int]): Iterator[UserSession] = {
    if (state.exists)
      throw new IllegalStateException(
        s"st02 sessionizer saw key $userId in a second micro-batch; " +
          "this demo requires single-batch execution (see scaladoc)")
    state.update(1)
    val sorted = events.toIndexedSeq.sortBy(e => (e.ts_ms, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    val out = ListBuffer.empty[UserSession]
    var sid = 1
    var start = sorted.head.ts_ms
    var last = start
    var n = 0L
    sorted.foreach { e =>
      if (e.ts_ms - last > GapMs) {
        out += UserSession(userId, sid, n, start, last)
        sid += 1; start = e.ts_ms; n = 0L
      }
      n += 1; last = e.ts_ms
    }
    out += UserSession(userId, sid, n, start, last)
    out.iterator
  }

  // ------------------------------------------- idempotent lake sink

  /** Exactly-once foreachBatch parquet sink: each micro-batch lands in
    * its own `batch_id=<id>` partition directory with OVERWRITE
    * semantics, so a batch replayed after a failure/restart (Structured
    * Streaming re-delivers the last uncommitted batch from the
    * checkpoint) rewrites the same partition instead of appending
    * duplicates. This is the standard idempotence recipe for
    * non-transactional stores: make (target, batchId) the write key.
    * Readers see `spark.read.parquet(outDir)` with `batch_id` as an
    * ordinary partition column.
    */
  def idempotentParquetBatchWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
}
