package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Event-time spec matrix (VERDICT r7 item 7): every st01–st15 query
  * class runs END-TO-END on a 13-event hand-computed fixture, with the
  * expected outputs derived BY HAND from the event list below — so the
  * streaming surface is gated in CI independently of the oracle
  * harness (which round 7 proved can lose queries silently).
  *
  * The fixture writes `events.ts` as TIMESTAMP_NTZ single-file parquet
  * — exactly the driver's current encoding — so every spec here also
  * exercises the [[Catalog.normalizeTs]] read path end to end.
  *
  * Event list (minutes after 2024-01-01T00:00:00Z):
  * {{{
  * id  min user type      value
  *  1    0   1  view       1.0
  *  2   10   1  click      2.0
  *  3   20   1  view       1.5
  *  4   40   1  purchase  10.0     <- click 2 within the 1h window
  *  5   90   1  view       2.0     <- 50min gap: new session
  *  6    5   2  click      1.0
  *  7   60   2  view       3.0
  *  8   95   2  purchase  20.0     <- click 6 is 90min earlier: no pair
  *  9  120   3  view       1.0
  * 10  300   4  view       5.0     <- max event time = watermark anchor
  * 11  299   4  click      0.5
  * 12  125   3  purchase   7.0     <- user 3 has no click: no pair
  * 13  290   4  purchase   9.0     <- click 11 is AFTER it: no pair
  * }}}
  */
class StreamingMatrixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  private def m(min: Long): Long = BaseMs + min * 60000L
  private def us(min: Long): Long = m(min) * 1000L

  private val events: Seq[(Long, Long, Long, String, Double)] = Seq(
    (1L, 0L, 1L, "view", 1.0), (2L, 10L, 1L, "click", 2.0),
    (3L, 20L, 1L, "view", 1.5), (4L, 40L, 1L, "purchase", 10.0),
    (5L, 90L, 1L, "view", 2.0), (6L, 5L, 2L, "click", 1.0),
    (7L, 60L, 2L, "view", 3.0), (8L, 95L, 2L, "purchase", 20.0),
    (9L, 120L, 3L, "view", 1.0), (10L, 300L, 4L, "view", 5.0),
    (11L, 299L, 4L, "click", 0.5), (12L, 125L, 3L, "purchase", 7.0),
    (13L, 290L, 4L, "purchase", 9.0))

  /** The driver ships each table as ONE parquet FILE named
    * `<table>.parquet` (the streaming scaffold's pathGlobFilter relies
    * on that), so the fixture writer moves the single part file into
    * place under that name.
    */
  private def writeSingleFile(df: DataFrame, dir: String, table: String): Unit =
    TestIo.writeSingleFile(df, dir, table)

  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val d = TempDirs.create("graft-stmatrix")
    val ev = events.toDF("event_id", "min", "user_id", "event_type", "value")
      .withColumn("ts",
        expr(s"cast(timestamp_micros(${BaseMs}000 + min * 60000000) as timestamp_ntz)"))
      .withColumn("props", lit("""{"src":"fixture"}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    writeSingleFile(ev, d, "events")
    val cust = Seq(
      (1L, "cust1", 1, 0.0, "AUTO"), (2L, "cust2", 2, 0.0, "BIKE"),
      (3L, "cust3", 1, 0.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    writeSingleFile(cust, d, "customer")
    // doc 5 repeats doc 1's text verbatim (a corpus dup for st12);
    // doc 10 is novel — both are in the doc_id % 5 == 0 "batch" half
    val docText = (i: Long) =>
      if (i == 5L) "alpha beta gamma delta epsilon zeta eta theta"
      else s"doc $i words " + (1 to 12).map(j => s"w${i}_$j").mkString(" ")
    val docs = (1L to 10L).map { i =>
      val t = if (i == 1L) "alpha beta gamma delta epsilon zeta eta theta" else docText(i)
      (i, t, if (i % 2 == 0) "de" else "en", s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    writeSingleFile(docs, d, "documents")
    // embeddings: two hand-placed clusters around the centroids (ids 0
    // and 100, the vec_id % 100 == 0 set); corpus = % 5 != 0 (ids
    // 1,2,3), arrivals = % 5 == 0 (ids 0,5,10,100)
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0.1f, 0.9f, 0f, 0f), 1), (3L, Seq(0.8f, 0.2f, 0f, 0f), 0),
      (5L, Seq(0.95f, 0.05f, 0f, 0f), 0), (10L, Seq(0f, 0.85f, 0.1f, 0f), 1),
      (100L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    writeSingleFile(emb, d, "embeddings")
    d
  }

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet.map((r: Row) => r.toSeq.map {
      case t: java.sql.Timestamp => t.getTime
      case v => v
    })

  test("st01 hourly complete-mode windows match the hand aggregation") {
    assert(rows(run("st01_stream_hourly")) == Set(
      Seq(m(0), "view", 2L), Seq(m(0), "click", 2L), Seq(m(0), "purchase", 1L),
      Seq(m(60), "view", 2L), Seq(m(60), "purchase", 1L),
      Seq(m(120), "view", 1L), Seq(m(120), "purchase", 1L),
      Seq(m(240), "click", 1L), Seq(m(240), "purchase", 1L),
      Seq(m(300), "view", 1L)))
  }

  test("st02 flatMapGroupsWithState sessionizer splits on >30min gaps") {
    assert(rows(run("st02_sessionize")) == Set(
      Seq(1L, 1, 4L, m(0), m(40)), Seq(1L, 2, 1L, m(90), m(90)),
      Seq(2L, 1, 1L, m(5), m(5)), Seq(2L, 2, 1L, m(60), m(60)),
      Seq(2L, 3, 1L, m(95), m(95)), Seq(3L, 1, 2L, m(120), m(125)),
      Seq(4L, 1, 3L, m(290), m(300))))
  }

  test("st03 watermark (max - 1h) emits only closed windows") {
    // watermark = m(300) - 1h = m(240): hours 0/1/2 close, 4/5 withheld
    assert(rows(run("st03_watermarked_windows")) == Set(
      Seq(m(0), "view", 2L), Seq(m(0), "click", 2L), Seq(m(0), "purchase", 1L),
      Seq(m(60), "view", 2L), Seq(m(60), "purchase", 1L),
      Seq(m(120), "view", 1L), Seq(m(120), "purchase", 1L)))
  }

  test("st04 stream-stream interval join pairs click->purchase within 1h") {
    assert(rows(run("st04_stream_stream_join")) == Set(
      Seq(4L, 2L, 1L, m(40), m(10))))
  }

  test("st04 join state is bounded: both sides carry a state watermark " +
    "predicate") {
    // Spark logs a failed state-constraint extraction for each ms-bigint
    // conjunct; the timestamp band must still bound both sides' state
    val raw = Catalog.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val q = graft.streaming.StreamingQueries.clickToPurchase(raw).writeStream
      .format("memory").queryName("st04_state_bound").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val joins = plan.collect { case j: StreamingSymmetricHashJoinExec => j }
      assert(joins.size == 1, plan)
      val wm = joins.head.stateWatermarkPredicates
      assert(wm.left.isDefined && wm.right.isDefined, wm)
    } finally q.stop()
  }

  test("st05 streaming dedup emits the distinct key set") {
    val got = rows(run("st05_stream_dedup"))
    val exp = events.map(e => Seq[Any](e._3, e._4)).toSet
    assert(got == exp && got.size == 11)
  }

  test("st06 stream-static join drops users without a dimension row") {
    // user 4's purchase has no customer row: inner join drops it
    assert(rows(run("st06_stream_static_join")) == Set(
      Seq("AUTO", 2L, 17.0), Seq("BIKE", 1L, 20.0)))
  }

  test("st07 keyless global aggregate runs exact totals") {
    assert(rows(run("st07_stream_global_agg")) == Set(Seq(13L, 63.0, 20.0)))
  }

  test("st08 savepoint-bootstrapped counts continue from the snapshot") {
    // seed = even event_ids frozen into a savepoint (u1:2 u2:2 u3:1
    // u4:1), live = odd ids; totals must equal the full per-user counts
    assert(rows(run("st08_bootstrap_from_savepoint")) == Set(
      Seq(1L, 5L), Seq(2L, 3L), Seq(3L, 2L), Seq(4L, 3L)))
  }

  test("st09 built-in session windows emit below the watermark") {
    // session end = last event + 30min; u4's session (end m(330)) is
    // above the m(240) watermark and withheld
    assert(rows(run("st09_session_window")) == Set(
      Seq(1L, us(0), us(70), 4L), Seq(1L, us(90), us(120), 1L),
      Seq(2L, us(5), us(35), 1L), Seq(2L, us(60), us(90), 1L),
      Seq(2L, us(95), us(125), 1L), Seq(3L, us(120), us(155), 2L)))
  }

  test("st10 outer join emits watermark-proven unmatched purchases") {
    // global watermark = min(maxPurchase, maxClick) - 1h = m(290)-1h =
    // m(230): purchases 8 and 12 are proven unmatched; purchase 13
    // (m(290)) is unmatched but NOT yet evictable, so no null row
    assert(rows(run("st10_interval_outer_join")) == Set(
      Seq(4L, 2L, 1L, m(40), m(10)),
      Seq(8L, null, 2L, m(95), null),
      Seq(12L, null, 3L, m(125), null)))
  }

  test("st11 foreachBatch parquet sink lands exactly the purchases") {
    assert(rows(run("st11_foreachbatch_sink").select("event_id", "user_id", "cents")) == Set(
      Seq(4L, 1L, 1000L), Seq(8L, 2L, 2000L), Seq(12L, 3L, 700L),
      Seq(13L, 4L, 900L)))
  }

  test("st12 streaming ingest dedup equals the batch operator") {
    val stream = rows(run("st12_stream_ingest_dedup"))
    val batch = rows(graft.llm.Dedup.incrementalDedup(
      Catalog.t(spark, dir, "documents").filter(col("doc_id") % 5 =!= 0),
      Catalog.t(spark, dir, "documents").filter(col("doc_id") % 5 === 0)))
    assert(stream == batch)
    // doc 5 repeats doc 1's prefix -> corpus dup; doc 10 is novel
    val byId = stream.map(r => r.head -> (r(2), r(3))).toMap
    assert(byId(5L) == ((true, 1L)) && byId(10L) == ((false, null)))
  }

  test("st13 streamed hourly counts round-trip through a savepoint") {
    assert(rows(run("st13_stream_to_savepoint")) == Set(
      Seq(1L, m(0), m(60), 4L), Seq(1L, m(60), m(120), 1L),
      Seq(2L, m(0), m(60), 1L), Seq(2L, m(60), m(120), 2L),
      Seq(3L, m(120), m(180), 2L), Seq(4L, m(240), m(300), 2L),
      Seq(4L, m(300), m(360), 1L)))
  }

  test("st14 streamed Misra-Gries sketch equals exact frequencies") {
    assert(run("st14_stream_heavy_hitters").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("view", 6L), ("purchase", 4L), ("click", 3L)))
  }

  test("st16 streaming LSH ingest flags exactly the duplicate arrival") {
    // doc 5 (batch half) repeats doc 1's text verbatim: identical
    // shingle sets -> identical signatures -> every band matches ->
    // est_sim 1.0; doc 10's words are unique, so no other pair
    assert(rows(run("st16_stream_minhash_ingest")) == Set(Seq(1L, 5L, 1.0)))
  }

  test("st17 streaming semantic ingest flags same-cell cross-split pairs") {
    // cluster A (centroid 0): corpus 1,3 vs arrivals 0,5; cluster B
    // (centroid 100): corpus 2 vs arrivals 10,100 — every cross-split
    // same-cell pair clears the 0.4 cosine gate, and no cross-cluster
    // pair is even considered (different cells)
    val got = run("st17_stream_semantic_ingest").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 0L), (3L, 0L), (1L, 5L), (3L, 5L), (2L, 100L), (2L, 10L)))
    assert(got.forall(_.getDouble(2) >= 0.4))
  }

  test("st18 streaming simhash gate flags exactly the verbatim duplicate") {
    // doc 5's text repeats doc 1's verbatim -> identical fingerprint,
    // hamming 0; the other docs' word sets differ enough that no other
    // pair enters the hamming <= 3 bound
    assert(run("st18_stream_simhash_ingest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((1L, 5L, 0)))
  }

  test("st23 drift gate: single-bucket fixture reports exact ppm, zero drift") {
    // every fixture doc has 8 or 15 words -> token-length bucket 0 on
    // both splits; shares are exactly 1e6 ppm each side, drift 0
    val got = run("st23_stream_dist_drift").collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got.head
    assert(r.getInt(0) == 0 && r.getLong(1) == 8L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 1000000L && r.getLong(4) == 1000000L &&
      r.getLong(5) == 0L)
  }

  test("st15 streaming JSONL ingest matches the batch per-lang hash") {
    graft.functions.GraftFunctions.register(spark)
    val stream = rows(run("st15_stream_jsonl_ingest"))
    val batch = rows(Catalog.t(spark, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("graft_polyhash32(text)")).as("text_hash")))
    assert(stream == batch && stream.map(_.head) == Set("en", "de"))
  }

  test("st19 streaming quality gate matches the scorer replayed by hand " +
    "on the fixture docs") {
    import graft.llm.TextExprs.stopwords
    val en = stopwords.toMap.apply("en").toSet
    // replay the fixture generator's texts (same rules as `dir` above)
    def text(i: Long): String =
      if (i == 1L || i == 5L) "alpha beta gamma delta epsilon zeta eta theta"
      else s"doc $i words " + (1 to 12).map(j => s"w${i}_$j").mkString(" ")
    val exp = (1L to 10L).map { i =>
      val w = text(i).split(" ", -1)
      val score = (w.count(en.contains).toDouble / math.max(w.length, 1)) * 0.5 +
        math.min(w.length.toDouble / 100, 1.0) * 0.5
      val kept = score >= 0.35 && w.length >= 5 && w.length <= 2000
      val lang = if (i % 2 == 0) "de" else "en"
      (lang, kept, w.length.toLong)
    }.groupBy(t => (t._1, t._2)).map { case (k, v) =>
      k -> ((v.size.toLong, v.map(_._3).sum))
    }
    val got = run("st19_stream_quality_gate").collect()
      .map(r => (r.getString(0), r.getBoolean(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === exp)
  }

  test("st20 streaming anomaly gate matches the profile replayed by hand " +
    "on the fixture events") {
    // per-type integer moments from the 13-event list at the top
    val byType = events.groupBy(_._4).map { case (t, evs) =>
      val v = evs.map(e => math.round(e._5 * 100))
      val n = v.size.toDouble
      val s0 = v.sum.toDouble
      val sxx = v.map(x => x * x).sum.toDouble
      val m = s0 / n
      val sd = math.sqrt((n * sxx - s0 * s0) / (n * (n - 1)))
      val anomalies = v.count(x => math.abs(x - m) > 2 * sd)
      t -> ((v.size.toLong, anomalies.toLong))
    }
    val got = run("st20_stream_anomaly_gate").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === byType)
  }
}
