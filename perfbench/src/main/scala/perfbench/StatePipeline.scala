package perfbench

import graft.core.codec.{ByteReader, ByteWriter, Codecs, KeyGroups}
import graft.core.flink.FlinkMetadataIO
import graft.core.meta.{Dialect, SavepointMeta, StateKind, StateMeta}
import graft.state.{KeyedStateRow, Savepoints, StateRowEncoder}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `state`: bravo's snapshot path end to end, on seeded external data.
  * Each iteration
  *  1. bootstraps `sessions` (Flink dialect, parallelism 8,
  *     maxParallelism 1024, string keys; a value, a list and a map state);
  *  2. adds `lookup` as a native RocksDB checkpoint at parallelism 2,
  *     fewer subtasks than cores;
  *  3. loads the `_metadata`, scans `sessions` raw, pushed down to one
  *     state and column-pruned, reads each state typed, joins two states
  *     on key and reads `lookup` typed (the read side, writer idle);
  *  4. transforms the value state with a seeded delta, copying the
  *     unread states through;
  *  5. rescales 8 → 12 subtasks and maxParallelism 1024 → 2048, the
  *     re-shard path that decodes every key;
  *  6. reloads each new `_metadata` and checks counts and checksums.
  * Every step's output is checked against closed-form aggregates of the
  * generator (see [[StateGen.expected]]), which never touch the savepoint
  * layers. Outputs are deleted outside the timed region.
  */
final class StatePipeline(spark: SparkSession, seed: Long, out: Path) extends Workload {
  import spark.implicits._
  import StatePipeline._

  private val gen = StateGen(seed, Keys)
  private var inputs: Path = _
  private var expect: Map[String, Seq[Any]] = Map.empty
  private var rows: Map[String, Long] = Map.empty
  private var round = 0
  private var written = Seq.empty[SavepointMeta]
  private var bytes = Seq.empty[Double]

  /** The external data: seeded parquet that every iteration bootstraps from. */
  def build(dir: Path): Unit = {
    gen.counts(spark).toDF("k", "v").write.parquet(dir.resolve("counts").toString)
    gen.lists(spark).toDF("k", "l").write.parquet(dir.resolve("lists").toString)
    gen.maps(spark).toDF("k", "mk", "v").write.parquet(dir.resolve("maps").toString)
    gen.deltas(spark).toDF("k", "d").write.parquet(dir.resolve("deltas").toString)
    val g = gen
    spark.range(LookupKeys).as[Long].map(k => (k, g.rate(k))).toDF("k", "v")
      .write.parquet(dir.resolve("lookup").toString)
    inputs = dir
    expect = gen.expected(LookupKeys)
    rows = Map("count" -> Keys, "events" -> expect("events").head.asInstanceOf[Long],
      "scores" -> expect("scores").head.asInstanceOf[Long])
  }

  private def input(name: String): DataFrame = spark.read.parquet(inputs.resolve(name).toString)

  private def dir(name: String): String = out.resolve(s"$round-$name").toString

  private def raw(sp: String, uid: String): DataFrame =
    spark.read.format("flink-savepoint").option("uid", uid).load(sp)

  /** Map-state rows: key bytes end with the map key; the value carries
    * the null marker.
    */
  private def mapRows(maxPar: Int): Dataset[KeyedStateRow] =
    input("maps").as[(String, String, Double)].map { case (k, mk, v) =>
      val w = new ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(k, maxPar), maxPar)
      Codecs.FlinkStringCodec.write(w, k)
      Codecs.VoidNamespaceCodec.write(w, ())
      Codecs.FlinkStringCodec.write(w, mk)
      val vw = new ByteWriter()
      vw.writeBoolean(false)
      Codecs.DoubleCodec.write(vw, v)
      KeyedStateRow("scores", w.toBytes, vw.toBytes)
    }

  private def listRows(maxPar: Int): Dataset[KeyedStateRow] = {
    val lc = Codecs.ListCodec(Codecs.LongCodec)
    input("lists").as[(String, Seq[Long])].map { case (k, xs) =>
      StateRowEncoder.valueRow("events", k, xs.toList, Codecs.FlinkStringCodec, lc, maxPar)
    }
  }

  def iteration(s: Steps): Unit = {
    round += 1
    written = Nil
    var m1, m2, m3, m4: SavepointMeta = null
    s.step("writer.bootstrap") {
      val base = Savepoints.bootstrap("sessions", 8, MaxPar)
      val meta0 = base.copy(dialect = Dialect.Flink,
        operators = base.operators ++ Savepoints.bootstrap("lookup", 2, 128).operators)
      m1 = Savepoints.writer(spark, meta0, "sessions")
        .withKeyCodec(Codecs.FlinkStringCodec)
        .createNewValueState("count", input("counts").as[(String, Long)], Codecs.LongCodec)
        .defineState(StateMeta("events", StateKind.List, "list<long>"))
        .defineState(StateMeta("scores", StateKind.Map, "double", Some("flink-string")))
        .addKeyedStateRows(listRows(MaxPar))
        .addKeyedStateRows(mapRows(MaxPar))
        .writeAll(dir("bootstrap"))
      s.checkEq(m1.operator("sessions").keyedFiles.size, 8, "sessions subtask files")
    }
    if (m1 == null) return
    s.step("writer.rocks") {
      m2 = Savepoints.writer(spark, m1, "lookup")
        .withKeyCodec(Codecs.LongCodec)
        .withNativeRocksDb()
        .createNewValueState("rate", input("lookup").as[(Long, Double)], Codecs.DoubleCodec)
        .writeAll(dir("lookup"))
      s.checkEq(m2.operator("lookup").keyedFiles.size, 2, "lookup subtask checkpoints")
    }
    if (m2 == null) return
    written = Seq(m1, m2)
    read(s, m2.basePath)
    s.step("writer.transform") {
      val r = Savepoints.reader(spark, m2, "sessions")
      val updated = r.readValueStates[String, Long]("count").toDF("k", "v")
        .join(input("deltas"), Seq("k"), "left")
        .select(col("k"), col("v") + coalesce(col("d"), lit(0L)))
        .as[(String, Long)]
      m3 = Savepoints.writer(spark, m2, "sessions")
        .addValueState("count", updated)
        .addKeyedStateRows(r.getAllUnreadKeyedStateRows)
        .writeAll(dir("transform"))
    }
    if (m3 == null) return
    s.step("writer.rescale") {
      m4 = Savepoints.writer(spark, m3, "sessions")
        .withParallelism(12, 2 * MaxPar)
        .addKeyedStateRows(Savepoints.reader(spark, m3, "sessions").getAllUnreadKeyedStateRows)
        .writeAll(dir("rescale"))
      s.checkEq(m4.operator("sessions").keyedFiles.size, 12, "rescaled subtask files")
    }
    if (m4 == null) return
    written = Seq(m1, m2, m3, m4)
    s.step("writer.verify") {
      val (l3, l4) = s.tracer.span("meta.load")(
        (Savepoints.load(m3.basePath), Savepoints.load(m4.basePath)))
      val op = l4.operator("sessions")
      s.checkEq((op.parallelism, op.maxParallelism), (12, 2 * MaxPar), "rescaled parallelism")
      def values(tag: String, m: SavepointMeta): DataFrame =
        Savepoints.reader(spark, m, "sessions").readValueStates[String, Long]("count")
          .toDF("k", "v").withColumn("tag", lit(tag))
      val got = values("transform", l3).unionByName(values("rescale", l4))
        .groupBy("tag").agg(count(lit(1)), sum("v"), sum(crc32(col("k"))))
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      s.checkEq(got, Map("transform" -> expect("transformed"), "rescale" -> expect("transformed")),
        "transformed value state")
      val rd = Savepoints.reader(spark, l4, "sessions")
      val lists = rd.readListStates[String, Long]("events").toDF("k", "l")
        .agg(count(lit(1)), sum(size(col("l"))), sum(expr("aggregate(l, 0L, (a, x) -> a + x)"))).head()
      s.checkEq(lists.toSeq, expect("events"), "rescaled list state")
      val maps = rd.readMapStates[String, String, Double]("scores").toDF("k", "mk", "v")
        .agg(count(lit(1)), sum("v")).head()
      s.checkEq(maps.toSeq, expect("scores"), "rescaled map state")
    }
  }

  /** The read side: metadata, raw scans, typed reads, join, RocksDB. */
  private def read(s: Steps, sp: String): Unit = {
    var meta: SavepointMeta = null
    s.step("meta.load") {
      meta = Savepoints.load(sp)
      s.checkEq(meta.operators.size, 2, "operators")
    }
    if (meta == null) return
    s.step("scan.raw") {
      val got = raw(sp, "sessions").groupBy("stateName")
        .agg(count(lit(1)), sum(length(col("keyAndNamespaceBytes")) + length(col("valueBytes"))))
        .as[(String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
      s.checkEq(got, rows, "rows per state")
    }
    s.step("scan.pushdown") {
      s.checkEq(raw(sp, "sessions").filter(col("stateName") === "count").count(), rows("count"),
        "pushdown rows")
    }
    s.step("scan.value_only") {
      val r = raw(sp, "sessions").filter(col("stateName") === "count").select("valueBytes")
        .agg(count(lit(1)), sum(length(col("valueBytes")))).head()
      // a Flink long serializes to 8 bytes
      s.checkEq(r.toSeq, Seq(rows("count"), 8 * rows("count")), "value bytes")
    }
    val reader = () => Savepoints.reader(spark, meta, "sessions")
    s.step("reader.value") {
      val r = reader().readValueStates[String, Long]("count").toDF("k", "v")
        .agg(count(lit(1)), sum("v"), sum(crc32(col("k")))).head()
      s.checkEq(r.toSeq, expect("count"), "value state")
    }
    s.step("reader.list") {
      val r = reader().readListStates[String, Long]("events").toDF("k", "l")
        .agg(count(lit(1)), sum(size(col("l"))), sum(expr("aggregate(l, 0L, (a, x) -> a + x)"))).head()
      s.checkEq(r.toSeq, expect("events"), "list state")
    }
    s.step("reader.map") {
      val r = reader().readMapStates[String, String, Double]("scores").toDF("k", "mk", "v")
        .agg(count(lit(1)), sum("v")).head()
      s.checkEq(r.toSeq, expect("scores"), "map state")
    }
    s.step("reader.join") {
      val rd = reader()
      val r = rd.readValueStates[String, Long]("count").toDF("k", "v")
        .join(rd.readListStates[String, Long]("events").toDF("k", "l"), "k")
        .agg(count(lit(1)), sum(col("v") * size(col("l")))).head()
      s.checkEq(r.toSeq, expect("join"), "value-list join")
    }
    s.step("scan.rocks") {
      val r = Savepoints.reader(spark, meta, "lookup").readValueStates[Long, Double]("rate")
        .toDF("k", "v").agg(count(lit(1)), sum("v")).head()
      s.checkEq(r.toSeq, expect("rate"), "lookup state")
    }
  }

  override def afterIteration(): Unit = {
    if (written.size == 4) bytes = bytes :+ writtenBytes().toDouble / recordsWritten
    Main.deleteTree(out)
  }

  /** Files and `_metadata` of every savepoint the iteration wrote. */
  private def writtenBytes(): Long = Main.treeBytes(out)

  private def allRows: Double = rows.values.sum.toDouble

  /** Records encoded and written: `sessions` three times, `lookup` once. */
  private def recordsWritten: Double = 3 * allRows + LookupKeys

  /** Records decoded: scans, typed reads and join, the transform's
    * read and copy-through, the rescale's re-shard and the checks.
    */
  private def recordsRead: Double = {
    val c = rows("count")
    val l = rows("events")
    allRows + c + c + c + l + rows("scores") + (c + l) + LookupKeys + // read side
      allRows + allRows + // transform, rescale
      2 * c + l + rows("scores") // verify
  }

  def recordsPerIteration: Double = recordsRead + recordsWritten

  /** Snapshot bytes written (files and `_metadata`) per record written. */
  def bytesPerRecord: Double = Main.median(bytes)

  def layers(t: Tracer, iter: Span, cores: Int): Map[String, Double] = {
    val mine = t.spans.filter(_.iter == iter.iter)
    val byName = mine.groupBy(_.name)
    def wall(n: String): Double = byName.get(n).fold(0.0)(_.map(_.wallS).sum)
    val writers = mine.filter(s => s.name.startsWith("writer.") && s.name != "writer.verify")
      .map(t.totals)
    val rocks = byName("scan.rocks").head
    val bootstrap = Paths.get(written.head.basePath)
    val sessionFiles = Main.treeBytes(bootstrap) - Files.size(bootstrap.resolve("_metadata"))
    // the metadata rewrite on its own, from outside the writer
    val metaDir = out.resolve("meta-probe")
    val w0 = System.nanoTime()
    val metaBytes = written.zipWithIndex.map { case (m, i) =>
      val d = metaDir.resolve(i.toString)
      FlinkMetadataIO.write(d.toString, m)
      Files.size(d.resolve("_metadata"))
    }.sum
    val writeMs = (System.nanoTime() - w0) / 1e6
    Main.deleteTree(metaDir)
    val rescaled = Files.walk(Paths.get(written(3).basePath)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => Files.size(p).toDouble).toSeq
    // the bootstrapped `sessions` and `lookup`, both in the second savepoint
    val sp = written(1).basePath
    val perState = raw(sp, "sessions").groupBy("stateName")
      .agg(sum(length(col("keyAndNamespaceBytes")) + length(col("valueBytes")))).as[(String, Long)]
      .collect().toMap
    CodecLoops.run(raw(sp, "sessions")) ++ Map(
      "scan.pushdown_byte_share" -> perState("count").toDouble / perState.values.sum,
      "scan.partitions" -> raw(sp, "sessions").rdd.getNumPartitions.toDouble,
      "scan.rocks_partitions" -> raw(sp, "lookup").rdd.getNumPartitions.toDouble,
      "meta.load_ms" -> wall("meta.load") * 1000,
      "meta.write_ms" -> writeMs,
      "meta.bytes" -> metaBytes.toDouble,
      "scan.raw_s" -> wall("scan.raw"),
      "scan.raw_mb_per_s" -> sessionFiles / 1048576.0 / wall("scan.raw"),
      "scan.pushdown_s" -> wall("scan.pushdown"),
      "scan.pushdown_share" -> wall("scan.pushdown") / wall("scan.raw"),
      "scan.value_only_s" -> wall("scan.value_only"),
      "scan.rocks_s" -> wall("scan.rocks"),
      "scan.rocks_core_util" -> t.totals(rocks).taskMs / 1000.0 / (rocks.wallS * cores),
      "reader.value_s" -> wall("reader.value"),
      "reader.list_s" -> wall("reader.list"),
      "reader.map_s" -> wall("reader.map"),
      "reader.join_s" -> wall("reader.join"),
      "reader.typed_overhead_s" -> (wall("reader.value") - wall("scan.pushdown")),
      "writer.bootstrap_s" -> wall("writer.bootstrap"),
      "writer.rocks_s" -> wall("writer.rocks"),
      "writer.transform_s" -> wall("writer.transform"),
      "writer.rescale_s" -> wall("writer.rescale"),
      "writer.verify_s" -> wall("writer.verify"),
      "writer.encode_task_s" -> writers.map(_.encodeTaskMs).sum / 1000.0,
      "writer.max_subtask_s" -> writers.map(_.maxEncodeTaskMs).maxOption.getOrElse(0L) / 1000.0,
      "writer.file_skew" -> rescaled.max / (rescaled.sum / rescaled.size),
      "writer.mb" -> writtenBytes() / 1048576.0)
  }
}

object StatePipeline {
  /** `sessions` keys; with lists on two thirds of the keys and 0-6 map
    * entries per key, about 4.7 state records per key.
    */
  val Keys = 30000L
  val LookupKeys = 10000L
  val MaxPar = 1024
}

/** Single-thread driver loops over a fixed sample of a `sessions` scan:
  * nanoseconds per decode, encode and key-group assignment.
  */
object CodecLoops {
  val Sample = 20000

  def run(raw: DataFrame): Map[String, Double] = {
    implicit val pair = Encoders.tuple(Encoders.BINARY, Encoders.BINARY)
    def sample(state: String): Array[(Array[Byte], Array[Byte])] =
      raw.filter(col("stateName") === state).select("keyAndNamespaceBytes", "valueBytes")
        .limit(Sample).as[(Array[Byte], Array[Byte])].collect()
    val prefix = KeyGroups.prefixBytes(StatePipeline.MaxPar).toLong
    val counts = sample("count")
    val lists = sample("events")
    val maps = sample("scores")
    val lc = Codecs.ListCodec(Codecs.LongCodec)
    def keyOf(kb: Array[Byte]): String = {
      val r = new ByteReader(kb); r.skip(prefix); Codecs.FlinkStringCodec.read(r)
    }
    def entryOf(kv: (Array[Byte], Array[Byte])): (String, Double) = {
      val r = new ByteReader(kv._1); r.skip(prefix)
      Codecs.FlinkStringCodec.read(r); Codecs.VoidNamespaceCodec.read(r)
      val mk = Codecs.FlinkStringCodec.read(r)
      val vr = new ByteReader(kv._2)
      (mk, if (vr.readBoolean()) Double.NaN else Codecs.DoubleCodec.read(vr))
    }
    val longs = counts.map(c => Codecs.LongCodec.fromBytes(c._2))
    val keys = counts.map(c => keyOf(c._1))
    val listVals = lists.map(c => lc.fromBytes(c._2))
    val entries = maps.map(entryOf)
    Map(
      "codec.decode_ns.long" -> perOp(counts.length)(i => Codecs.LongCodec.fromBytes(counts(i)._2)),
      "codec.decode_ns.flink_string" -> perOp(counts.length)(i => keyOf(counts(i)._1).length.toLong),
      "codec.decode_ns.list" -> perOp(lists.length)(i => lc.fromBytes(lists(i)._2).length.toLong),
      "codec.decode_ns.map" -> perOp(maps.length)(i => entryOf(maps(i))._2.toLong),
      "codec.encode_ns.long" -> perOp(longs.length)(i => Codecs.LongCodec.toBytes(longs(i)).length.toLong),
      "codec.encode_ns.flink_string" ->
        perOp(keys.length)(i => Codecs.FlinkStringCodec.toBytes(keys(i)).length.toLong),
      "codec.encode_ns.list" -> perOp(listVals.length)(i => lc.toBytes(listVals(i)).length.toLong),
      "codec.encode_ns.map" -> perOp(entries.length) { i =>
        val w = new ByteWriter()
        Codecs.FlinkStringCodec.write(w, entries(i)._1)
        w.writeBoolean(false)
        Codecs.DoubleCodec.write(w, entries(i)._2)
        w.size
      },
      "codec.keygroup_ns" ->
        perOp(keys.length)(i => KeyGroups.assignToKeyGroup(keys(i), StatePipeline.MaxPar).toLong))
  }

  /** Median over five passes of nanoseconds per call of `f`. */
  private def perOp(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    (0 until n).foreach(i => sink += f(i)) // warm the JIT
    val passes = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    // the results feed `sink`, so the JIT cannot drop the calls
    if (sink == Long.MinValue) System.err.println(sink)
    Main.median(passes)
  }
}
