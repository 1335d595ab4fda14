package graft

import graft.core.codec.{Codecs, KeyGroups}
import graft.core.flink.{FlinkMetadataIO, FlinkProxyIO}
import graft.core.meta.{Dialect, Identifiers, OperatorStateMeta, SavepointMeta, StateKind, StateMeta}
import graft.state.Savepoints

import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path, Paths}

/** Bit-compatibility spec for the Flink savepoint dialect.
  *
  * The golden fixture under `src/test/resources/flink-golden/` is
  * HAND-ASSEMBLED by [[FlinkGoldenAssembler]] — an independent,
  * test-local implementation that writes raw bytes directly from the
  * reference's documented grammar (RocksDBSavepointWriter.java:85-183,
  * RocksDBSavepointIterator.java:101-195, KeyGroupFlags.java:24-44 for
  * the stream; the reconstructed SavepointV2/proxy layouts for the
  * metadata). The production reader must decode it, and the production
  * writer must reproduce the state-file bytes EXACTLY. On first run the
  * fixture files are written (then checked in); later runs fail on any
  * drift in either implementation.
  */
class FlinkFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------------ string codec

  test("flink-string codec matches StringValue.writeString byte vectors") {
    val c = Codecs.FlinkStringCodec
    // length is written +1 (0 = null); chars are 7-bit little-endian
    // var-width — these vectors are derived by hand from the algorithm
    assert(c.toBytes("").toSeq === Seq(0x01.toByte))
    assert(c.toBytes("A").toSeq === Seq(0x02.toByte, 0x41.toByte))
    // 'é' = 0xE9 = 233 -> (233|0x80)=0xE9, then 233>>>7 = 1
    assert(c.toBytes("é").toSeq === Seq(0x02.toByte, 0xE9.toByte, 0x01.toByte))
    // length 127 -> prefix 128 -> [0x80, 0x01]
    val s127 = "x" * 127
    assert(c.toBytes(s127).take(2).toSeq === Seq(0x80.toByte, 0x01.toByte))
    // roundtrips incl. surrogate pairs (encoded as two UTF-16 chars)
    Seq("", "a", "hello world", "é€漢", "😀", s127, "x" * 300)
      .foreach(s => assert(c.fromBytes(c.toBytes(s)) === s, s"roundtrip '$s'"))
  }

  // ------------------------------------------------------ golden fixture

  private val Uid = "flink-op"
  private val MaxPar = 128
  private val golden = FlinkGoldenAssembler

  private def resourceDir: Path = {
    val p = Paths.get("src/test/resources/flink-golden")
    if (!Files.exists(p.resolve("_metadata"))) {
      Files.createDirectories(p)
      golden.writeFixture(p) // bootstrap run: generate, then check in
    }
    p
  }

  test("golden fixture is byte-stable against the independent assembler") {
    val dir = resourceDir
    val tmp = TempDirs.track(Files.createTempDirectory("flink-golden-regen"))
    golden.writeFixture(tmp)
    assert(Files.readAllBytes(tmp.resolve("_metadata")).toSeq ===
      Files.readAllBytes(dir.resolve("_metadata")).toSeq, "_metadata drift")
    assert(Files.readAllBytes(tmp.resolve(golden.StateFileName)).toSeq ===
      Files.readAllBytes(dir.resolve(golden.StateFileName)).toSeq, "state file drift")
  }

  test("production reader decodes the hand-assembled Flink savepoint") {
    import spark.implicits._
    val meta = Savepoints.load(resourceDir.toString)
    assert(meta.dialect === Dialect.Flink)
    // operator addressable by original uid (murmur3_128 lookup) even
    // though the metadata only stores the hashed id
    val op = meta.operator(Uid)
    assert(op.operatorId === Identifiers.operatorId(Uid))
    // master states load as opaque payload blobs (S10 passthrough)
    assert(meta.masterStates.map(_.toSeq) ===
      Seq(golden.masterStatePayload().toSeq))
    assert(op.parallelism === 1 && op.maxParallelism === MaxPar)
    assert(!op.compression)
    assert(op.keyCodecId === Some("flink-string"))
    assert(op.states.map(s => (s.name, s.kind, s.valueCodecId)) ===
      Seq(("count", StateKind.Value, "long"), ("tag", StateKind.Value, "flink-string")))

    val reader = Savepoints.reader(spark, meta, Uid)
    val counts = reader.readValueStates[String, Long]("count").collect().toMap
    assert(counts === golden.Counts)
    val tags = reader.readValueStates[String, String]("tag").collect().toMap
    assert(tags === golden.Tags)
  }

  test("state-name pushdown takes the skip path through flagged records") {
    import spark.implicits._
    val meta = Savepoints.load(resourceDir.toString)
    // filter to 'tag' only: every 'count' record is length-skipped and
    // its metadata-follows flag must still be honored
    val reader = Savepoints.reader(spark, meta, Uid, Set("tag"))
    assert(reader.readValueStates[String, String]("tag").collect().toMap ===
      golden.Tags)
  }

  test("production writer reproduces the golden state-file bytes") {
    import spark.implicits._
    val base = SavepointMeta(golden.CheckpointId - 1, "", Seq(
      OperatorStateMeta(Uid, Identifiers.operatorId(Uid), 1, MaxPar,
        None, Seq.empty, compression = false, Seq.empty)))
    val outDir = TempDirs.track(Files.createTempDirectory("flink-writer-golden"))
    Files.delete(outDir) // writer creates it (NO_OVERWRITE semantics)
    val meta = Savepoints.writer(spark, base, Uid)
      .withDialect(Dialect.Flink)
      .withKeyCodec(Codecs.FlinkStringCodec)
      .createNewValueState("count",
        golden.Counts.toSeq.sortBy(_._1).toDS(), Codecs.LongCodec)
      .createNewValueState("tag",
        golden.Tags.toSeq.sortBy(_._1).toDS(), Codecs.FlinkStringCodec)
      .writeAll(outDir.toString)
    val f = meta.operator(Uid).keyedFiles.head
    val written = Files.readAllBytes(Paths.get(meta.basePath, f.relativePath))
    val goldenBytes = Files.readAllBytes(resourceDir.resolve(golden.StateFileName))
    assert(written.toSeq === goldenBytes.toSeq,
      "writer output differs from the hand-assembled reference bytes")
    // offsets recorded in _metadata match the hand-assembled ones
    assert(f.offsets === golden.offsets())
    // and the written savepoint loads back identically through `_metadata`
    val reloaded = Savepoints.load(meta.basePath)
    val counts = Savepoints.reader(spark, reloaded, Uid)
      .readValueStates[String, Long]("count").collect().toMap
    assert(counts === golden.Counts)
  }

  test("master states survive a writeAll rewrite byte-identically (S10), " +
    "in both dialects") {
    import spark.implicits._
    val loaded = Savepoints.load(resourceDir.toString)
    val rows = Savepoints.reader(spark, loaded, Uid).getAllUnreadKeyedStateRows
    // Flink-dialect rewrite: _metadata re-emits magic + length + payload
    val outF = TempDirs.track(Files.createTempDirectory("flink-master-f")); Files.delete(outF)
    val metaF = Savepoints.writer(spark, loaded, Uid)
      .addKeyedStateRows(rows)
      .writeAll(outF.toString)
    assert(metaF.masterStates.map(_.toSeq) ===
      Seq(FlinkGoldenAssembler.masterStatePayload().toSeq))
    val reF = Savepoints.load(metaF.basePath)
    assert(reF.masterStates.map(_.toSeq) ===
      Seq(FlinkGoldenAssembler.masterStatePayload().toSeq))
    // graft-dialect rewrite carries the blob too (v04 trailing section),
    // so Flink -> graft -> Flink loses nothing
    val outG = TempDirs.track(Files.createTempDirectory("flink-master-g")); Files.delete(outG)
    val metaG = Savepoints.writer(spark, reF, Uid)
      .withDialect(Dialect.Graft)
      .addKeyedStateRows(Savepoints.reader(spark, reF, Uid).getAllUnreadKeyedStateRows)
      .writeAll(outG.toString)
    val reG = Savepoints.load(metaG.basePath)
    assert(reG.masterStates.map(_.toSeq) ===
      Seq(FlinkGoldenAssembler.masterStatePayload().toSeq))
    val outF2 = TempDirs.track(Files.createTempDirectory("flink-master-f2")); Files.delete(outF2)
    val metaF2 = Savepoints.writer(spark, reG, Uid)
      .withDialect(Dialect.Flink)
      .addKeyedStateRows(Savepoints.reader(spark, reG, Uid).getAllUnreadKeyedStateRows)
      .writeAll(outF2.toString)
    assert(Savepoints.load(metaF2.basePath).masterStates.map(_.toSeq) ===
      Seq(FlinkGoldenAssembler.masterStatePayload().toSeq))
    // and the state content rode along unharmed
    assert(Savepoints.reader(spark, Savepoints.load(metaF2.basePath), Uid)
      .readValueStates[String, Long]("count").collect().toMap ===
      FlinkGoldenAssembler.Counts)
  }

  test("compressed (snappy-framed) Flink roundtrip with map and list state") {
    import spark.implicits._
    val base = SavepointMeta(7L, "", Seq(
      OperatorStateMeta("cmp-op", Identifiers.operatorId("cmp-op"), 2, 128,
        None, Seq.empty, compression = true, Seq.empty)))
    val values = (1L to 500L).map(k => (s"key-$k", k * 3))
    val outDir = TempDirs.track(Files.createTempDirectory("flink-compressed"))
    Files.delete(outDir)
    val meta = Savepoints.writer(spark, base, "cmp-op")
      .withDialect(Dialect.Flink)
      .withKeyCodec(Codecs.FlinkStringCodec)
      .createNewValueState("v", values.toDS(), Codecs.LongCodec)
      .writeAll(outDir.toString)
    val loaded = Savepoints.load(meta.basePath)
    assert(loaded.operator("cmp-op").compression)
    val got = Savepoints.reader(spark, loaded, "cmp-op")
      .readValueStates[String, Long]("v").collect().toMap
    assert(got === values.toMap)
  }

  test("non-keyed operator state roundtrips through the Flink dialect, " +
    "including java-serialized default list state") {
    import graft.core.meta.{ListStateMode, OperatorBackendState}
    import graft.state.BackendStates
    val backend0 = {
      var b = OperatorBackendState()
      b = BackendStates.withSerializableListState(b,
        Seq("offset-12", java.lang.Long.valueOf(99L)))
      b = BackendStates.withListState(b, "buffered", Seq(5L, 6L, 7L),
        ListStateMode.Union)(Codecs.LongCodec)
      b = BackendStates.withBroadcastState(b, "rules",
        Map(1 -> "keep", 2 -> "drop"))(Codecs.IntCodec, Codecs.FlinkStringCodec)
      b
    }
    val base = SavepointMeta(3L, "", Seq(
      OperatorStateMeta("nk-op", Identifiers.operatorId("nk-op"), 2, 128,
        None, Seq.empty, compression = false, Seq.empty,
        Map(0 -> backend0))))
    val outDir = TempDirs.track(Files.createTempDirectory("flink-nonkeyed"))
    Files.delete(outDir)
    // metadata-only write in the Flink dialect (no keyed rows)
    val meta = Savepoints.writer(spark, base, "nk-op")
      .withDialect(Dialect.Flink)
      .writeAll(outDir.toString)
    val loaded = Savepoints.load(meta.basePath)
    val b = loaded.operator("nk-op").nonKeyed(0)
    assert(BackendStates.serializableListState(b) ===
      Seq("offset-12", java.lang.Long.valueOf(99L)))
    assert(BackendStates.listState[Long](b, "buffered")(Codecs.LongCodec) ===
      Seq(5L, 6L, 7L))
    assert(b.listStates("buffered")._1 === ListStateMode.Union)
    assert(BackendStates.broadcastState[Int, String](b, "rules")(
      Codecs.IntCodec, Codecs.FlinkStringCodec) === Map(1 -> "keep", 2 -> "drop"))
    // codec declarations survived the proxy roundtrip
    assert(b.listCodecs("buffered") === "long")
    assert(b.broadcastCodecs("rules") === ("int", "flink-string"))
  }

  test("window state (P7): TimeWindow namespaces declared in the proxy " +
    "and decoded with bounds") {
    import graft.core.codec.KeyGroups
    import graft.core.codec.Codecs.{FlinkTimeWindowCodec, LongCodec}
    import graft.state.KeyedStateRow
    import spark.implicits._
    val name = graft.state.OperatorStateReader.WindowContents
    // (key, windowStart, windowEnd) -> count, hour-aligned windows
    val content = Seq((1L, 0L, 3600L, 5L), (1L, 3600L, 7200L, 2L), (2L, 0L, 3600L, 9L))
    val rows = content.map { case (k, s0, e0, v) =>
      val w = new graft.core.codec.ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(k, 128), 128)
      LongCodec.write(w, k)
      FlinkTimeWindowCodec.write(w, (s0, e0))
      KeyedStateRow(name, w.toBytes, LongCodec.toBytes(v))
    }
    val base = SavepointMeta(11L, "", Seq(
      OperatorStateMeta("win-op", Identifiers.operatorId("win-op"), 2, 128,
        None, Seq.empty, compression = true, Seq.empty)))
    val outDir = TempDirs.track(Files.createTempDirectory("flink-window"))
    Files.delete(outDir)
    val meta = Savepoints.writer(spark, base, "win-op")
      .withDialect(Dialect.Flink)
      .withKeyCodec(LongCodec)
      .defineState(StateMeta(name, StateKind.Value, "long", None,
        FlinkTimeWindowCodec.id))
      .addKeyedStateRows(rows.toDS())
      .writeAll(outDir.toString)
    val loaded = Savepoints.load(meta.basePath)
    assert(loaded.operator("win-op").stateMeta(name).namespaceCodecId ===
      "flink-window")
    val got = Savepoints.reader(spark, loaded, "win-op")
      .readWindowStatesWithBounds[Long, Long]()
      .collect().toSet
    assert(got === content.toSet)
  }

  test("incremental RocksDB handle: manifest assembly + meta-handle proxy") {
    import graft.core.codec.KeyGroups
    import graft.core.codec.Codecs.LongCodec
    import graft.core.scan.RocksDbCheckpoints
    // a real RocksDB checkpoint dir holding value-state rows
    val rows = (1L to 50L).map { k =>
      val w = new graft.core.codec.ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(k, 128), 128)
      LongCodec.write(w, k)
      w.writeByte(0)
      ("v", w.toBytes, LongCodec.toBytes(k * 11))
    }
    val ckpt = TempDirs.track(Files.createTempDirectory("flink-inc-src")).resolve("chk")
    RocksDbCheckpoints.createCheckpoint(ckpt.toString, rows)
    val proxy = FlinkProxyIO.toBytes(FlinkProxyIO.Proxy(compression = false,
      keyCodecId = "long", states = Seq(StateMeta("v", StateKind.Value, "long"))))
    // hand-assemble _metadata with an INCREMENTAL_KEY_GROUPS_HANDLE
    val dir = TempDirs.track(Files.createTempDirectory("flink-inc-meta"))
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d); d.writeInt(2)
    d.writeLong(5L); d.writeInt(0); d.writeInt(1)
    val id = Identifiers.operatorId("inc-op")
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1); d.writeInt(128); d.writeInt(1) // par, maxPar, chain
    d.writeInt(1)      // one subtask
    d.writeInt(0)      // index
    d.writeLong(-1L); d.writeInt(0); d.writeInt(0); d.writeInt(0)
    d.writeByte(5)     // INCREMENTAL_KEY_GROUPS_HANDLE
    d.writeLong(5L)    // checkpoint id
    d.writeUTF("backend-1")
    d.writeInt(0); d.writeInt(128)
    // shared state: every checkpoint file as a remote file reference
    val files = java.nio.file.Files.list(ckpt).iterator()
    val fileSeq = new scala.collection.mutable.ArrayBuffer[Path]()
    while (files.hasNext) fileSeq += files.next()
    d.writeInt(fileSeq.size)
    fileSeq.foreach { f =>
      d.writeUTF(f.getFileName.toString)
      d.writeByte(2) // FILE_STREAM_STATE_HANDLE
      d.writeLong(Files.size(f))
      d.writeUTF(f.toAbsolutePath.toString)
    }
    d.writeInt(0)      // private state: empty
    d.writeByte(1)     // meta state: BYTE_STREAM with the proxy
    d.writeUTF("meta"); d.writeInt(proxy.length); d.write(proxy)
    d.writeByte(0)     // raw keyed: null
    d.flush()
    Files.write(dir.resolve("_metadata"), bos.toByteArray)

    import spark.implicits._
    val meta = Savepoints.load(dir.toString)
    val op = meta.operator("inc-op")
    assert(op.keyCodecId === Some("long"))
    assert(op.states.map(_.name) === Seq("v"))
    val got = Savepoints.reader(spark, meta, "inc-op")
      .readValueStates[Long, Long]("v").collect().toMap
    assert(got === (1L to 50L).map(k => k -> k * 11).toMap)
  }

  test("P2 value-only projection prunes key decode on the Flink layout") {
    import spark.implicits._
    val meta = Savepoints.load(resourceDir.toString)
    // readValueStateValues prunes to valueBytes: the source decodes
    // with needKey=false, which still must honor the flag bit living
    // in the first (skipped) key byte
    val got = Savepoints.reader(spark, meta, Uid)
      .readValueStateValues[Long]("count").collect().toSet
    assert(got === golden.Counts.values.toSet)
  }

  test("per-key-group splits (S5) work on the Flink layout, skipping " +
    "empty groups") {
    val meta = Savepoints.load(resourceDir.toString)
    val rows = TestSpark.withMaxPartitionBytes(1L) {
      spark.read.format("flink-savepoint")
        .option("uid", meta.operator(Uid).uid)
        .load(meta.basePath)
        .collect()
    }
    // 3 keys x 2 states, regardless of split granularity
    assert(rows.length === 6)
  }

  test("byte-sized splits tile each file's key groups exactly once and " +
    "read the same rows at any target, on both layouts") {
    import graft.core.scan.{SavepointScan, SavepointTable, StateSegmentPartition}
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import spark.implicits._
    import scala.jdk.CollectionConverters._

    // the graft layout: 2 subtasks x 64 key groups, uneven values
    val graftDir = TempDirs.track(Files.createTempDirectory("graft-split-tiles"))
    Files.delete(graftDir)
    Savepoints.writer(spark, Savepoints.bootstrap("tiles", 2, MaxPar), "tiles")
      .withKeyCodec(Codecs.LongCodec)
      .createNewValueState("v",
        (1L to 400L).map(k => (k, "x" * (k % 37).toInt)).toDS(),
        Codecs.FlinkStringCodec)
      .writeAll(graftDir.toString)
    // the rule itself, on generated segment sizes (empty groups included)
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val sizes = Array.fill(1 + rnd.nextInt(40))(
        if (rnd.nextInt(3) == 0) 0L else 1L + rnd.nextInt(100))
      val target = 1L + rnd.nextInt(300)
      val runs = SavepointScan.runs(sizes, target)
      assert(runs.flatMap { case (a, b) => a to b } === sizes.indices)
      runs.foreach { case (a, b) =>
        val run = sizes.slice(a, b + 1)
        assert(run.sum <= target || run.count(_ > 0) === 1)
      }
    }
    // the Flink layout: the golden fixture, most of its groups empty
    val fixtures = Seq((graftDir.toString, "tiles"), (resourceDir.toString, Uid))

    fixtures.foreach { case (dir, uid) =>
      val opts = new CaseInsensitiveStringMap(Map("path" -> dir, "uid" -> uid).asJava)
      def scan(target: Long) = TestSpark.withMaxPartitionBytes(target) {
        val parts = new SavepointTable(opts).newScanBuilder(opts).build()
          .toBatch.planInputPartitions()
          .map(_.asInstanceOf[StateSegmentPartition]).toSeq
        val rows = spark.read.format("flink-savepoint").option("uid", uid)
          .load(dir).collect()
          .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq,
            r.getAs[Array[Byte]](2).toSeq))
          .sortBy(_.toString).toSeq
        (target, parts, rows)
      }
      val default = scan(SQLConf.FILES_MAX_PARTITION_BYTES.defaultValue.get)
      val nFiles = Savepoints.load(dir).operator(uid).keyedFiles.size
      // at the default every (small) file stays one partition, as before
      assert(default._2.size === nFiles)
      val nonEmpty = default._2
        .flatMap(p => SavepointScan.segmentSizes(p.offsets, p.fileLen, p.flinkLayout))
        .filter(_ > 0).sorted
      val scans = Seq(scan(nonEmpty.head - 1), scan(nonEmpty(nonEmpty.length / 2)), default)
      scans.foreach { case (target, parts, _) =>
        val byFile = parts.groupBy(_.filePath)
        assert(byFile.size === nFiles, s"$uid @ $target")
        byFile.values.foreach { ps =>
          val groups = ps.flatMap(p => p.kgStart + p.groupFrom to p.kgStart + p.groupTo)
          assert(groups === (ps.head.kgStart to ps.head.kgEnd), s"$uid @ $target")
          // a run over the target holds exactly one non-empty group
          val segs = SavepointScan.segmentSizes(ps.head.offsets, ps.head.fileLen,
            ps.head.flinkLayout)
          ps.foreach { p =>
            val run = segs.slice(p.groupFrom, p.groupTo + 1)
            assert(run.sum <= target || run.count(_ > 0) === 1, s"$uid @ $target")
          }
        }
      }
      // below the smallest segment every non-empty group is its own run
      assert(scans.head._2.size >= nonEmpty.length)
      assert(scans.map(_._3).distinct.size === 1, uid)
      assert(default._3.nonEmpty)
    }
  }

  test("TTL value serializer detected by snapshot class name (C9 parity)") {
    // hand-write a TTL composite envelope: TtlSerializer snapshot
    // wrapping (long timestamp, long value)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(2); d.writeBoolean(true)
    d.writeUTF("org.apache.flink.runtime.state.ttl.TtlStateFactory$TtlSerializer$TtlSerializerSnapshot")
    d.writeInt(1)
    d.writeInt(2) // two nested: timestamp serializer + user serializer
    (0 until 2).foreach { _ =>
      d.writeInt(2); d.writeBoolean(true)
      d.writeUTF("org.apache.flink.api.common.typeutils.base.LongSerializer$LongSerializerSnapshot")
      d.writeInt(2)
      d.writeUTF("org.apache.flink.api.common.typeutils.base.LongSerializer")
    }
    d.flush()
    val id = graft.core.flink.FlinkSnapshots.read(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(bos.toByteArray)))
    assert(id === "ttl<long>")
    // the resolved codec skips the 8-byte timestamp like the reference
    // (KeyedStateReader.java:279-283) and refuses writes
    val c = graft.core.codec.CodecRegistry.resolve(id)
      .asInstanceOf[graft.core.codec.Codec[Any]]
    val w = new graft.core.codec.ByteWriter()
    w.writeLong(1234567890L) // ttl timestamp
    w.writeLong(42L)         // value
    assert(c.fromBytes(w.toBytes) === 42L)
    intercept[UnsupportedOperationException] { c.toBytes(42L) }
  }

  test("2-byte key-group prefixes (maxPar > 128) keep the flag bit " +
    "unambiguous through a Flink-dialect reshard (W9)") {
    import graft.core.codec.Codecs.LongCodec
    import spark.implicits._
    val base = SavepointMeta(1L, "", Seq(
      OperatorStateMeta("wide-op", Identifiers.operatorId("wide-op"), 2, 128,
        None, Seq.empty, compression = true, Seq.empty)))
    val values = (1L to 300L).map(k => (k, k * 7))
    val out1 = TempDirs.track(Files.createTempDirectory("flink-wide-a"))
    Files.delete(out1)
    val meta1 = Savepoints.writer(spark, base, "wide-op")
      .withDialect(Dialect.Flink)
      .withKeyCodec(LongCodec)
      .createNewValueState("v", values.toDS(), LongCodec)
      .writeAll(out1.toString)
    // reshard 128 -> 4096 key groups: keys re-assign, prefixes widen
    // to 2 bytes; the metadata-follows flag lives in the prefix's high
    // byte, which stays < 0x80 for any maxPar <= 32768
    val rows = Savepoints.reader(spark, Savepoints.load(meta1.basePath), "wide-op")
      .getAllUnreadKeyedStateRows
    val out2 = TempDirs.track(Files.createTempDirectory("flink-wide-b"))
    Files.delete(out2)
    val meta2 = Savepoints.writer(spark, Savepoints.load(meta1.basePath), "wide-op")
      .addKeyedStateRows(rows)
      .withParallelism(8, 4096)
      .writeAll(out2.toString)
    val got = Savepoints.reader(spark, Savepoints.load(meta2.basePath), "wide-op")
      .readValueStates[Long, Long]("v").collect().toMap
    assert(got === values.toMap)
    assert(Savepoints.load(meta2.basePath).operator("wide-op").maxParallelism === 4096)
  }

  test("v3 (Flink 1.8+) golden savepoint fixture decodes through P1") {
    import spark.implicits._
    val dir = FlinkV3GoldenAssembler.resourceDir
    // byte-stability against the independent assembler
    val tmp = TempDirs.track(Files.createTempDirectory("flink-v3-regen"))
    FlinkV3GoldenAssembler.writeFixture(tmp)
    assert(Files.readAllBytes(tmp.resolve("_metadata")).toSeq ===
      Files.readAllBytes(dir.resolve("_metadata")).toSeq, "_metadata drift")
    assert(Files.readAllBytes(tmp.resolve(FlinkV3GoldenAssembler.StateFileName)).toSeq ===
      Files.readAllBytes(dir.resolve(FlinkV3GoldenAssembler.StateFileName)).toSeq,
      "state file drift")
    // the production loader resolves codecs from the v3 (empty-body)
    // serializer snapshots and the typed P1 read returns the content
    val meta = Savepoints.load(dir.toString)
    val op = meta.operator("v3-op")
    assert(op.keyCodecId === Some("long"))
    assert(op.states.map(s => (s.name, s.kind, s.valueCodecId)) ===
      Seq(("count", StateKind.Value, "long")))
    val got = Savepoints.reader(spark, meta, "v3-op")
      .readValueStates[Long, Long]("count").collect().toMap
    assert(got === FlinkV3GoldenAssembler.Counts)
  }

  // --------------------------------------------- raw-state passthrough

  private def rawResourceDir: Path = {
    val p = Paths.get("src/test/resources/flink-golden-raw")
    if (!Files.exists(p.resolve("_metadata"))) {
      Files.createDirectories(p)
      golden.writeRawFixture(p)
    }
    p
  }

  test("raw keyed + raw operator state roundtrip verbatim through " +
    "writeAll (W7 parity with reference OperatorStateWriter.java:266-280)") {
    import spark.implicits._
    val loaded = Savepoints.load(rawResourceDir.toString)
    val op = loaded.operator(Uid)
    // staged verbatim on read
    assert(op.rawKeyedState(0).toSeq === golden.rawKeyedSection().toSeq)
    assert(op.rawOperatorState(0).toSeq === golden.rawOperatorSection().toSeq)
    // full rewrite with rows: raw sections must ride along untouched
    val rows = Savepoints.reader(spark, loaded, Uid).getAllUnreadKeyedStateRows
    val out = TempDirs.track(Files.createTempDirectory("flink-raw-rt")); Files.delete(out)
    val meta2 = Savepoints.writer(spark, loaded, Uid)
      .addKeyedStateRows(rows)
      .writeAll(out.toString)
    // the new _metadata embeds both sections byte-identically
    val written = Files.readAllBytes(Paths.get(meta2.basePath, "_metadata")).toSeq
    assert(written.indexOfSlice(golden.rawKeyedSection().toSeq) >= 0,
      "raw keyed section not replayed verbatim")
    assert(written.indexOfSlice(golden.rawOperatorSection().toSeq) >= 0,
      "raw operator section not replayed verbatim")
    val re = Savepoints.load(meta2.basePath)
    assert(re.operator(Uid).rawKeyedState(0).toSeq === golden.rawKeyedSection().toSeq)
    assert(re.operator(Uid).rawOperatorState(0).toSeq === golden.rawOperatorSection().toSeq)
    // and the managed state rewrote correctly alongside
    assert(Savepoints.reader(spark, re, Uid)
      .readValueStates[String, Long]("count").collect().toMap === golden.Counts)
  }

  test("raw state survives a Flink -> graft -> Flink rewrite chain") {
    import spark.implicits._
    val loaded = Savepoints.load(rawResourceDir.toString)
    val outG = TempDirs.track(Files.createTempDirectory("flink-raw-g")); Files.delete(outG)
    val metaG = Savepoints.writer(spark, loaded, Uid)
      .withDialect(Dialect.Graft)
      .addKeyedStateRows(Savepoints.reader(spark, loaded, Uid).getAllUnreadKeyedStateRows)
      .writeAll(outG.toString)
    val reG = Savepoints.load(metaG.basePath)
    assert(reG.operator(Uid).rawKeyedState(0).toSeq === golden.rawKeyedSection().toSeq)
    val outF = TempDirs.track(Files.createTempDirectory("flink-raw-f")); Files.delete(outF)
    val metaF = Savepoints.writer(spark, reG, Uid)
      .withDialect(Dialect.Flink)
      .addKeyedStateRows(Savepoints.reader(spark, reG, Uid).getAllUnreadKeyedStateRows)
      .writeAll(outF.toString)
    val reF = Savepoints.load(metaF.basePath)
    assert(reF.operator(Uid).rawKeyedState(0).toSeq === golden.rawKeyedSection().toSeq)
    assert(reF.operator(Uid).rawOperatorState(0).toSeq === golden.rawOperatorSection().toSeq)
    assert(Savepoints.reader(spark, reF, Uid)
      .readValueStates[String, Long]("count").collect().toMap === golden.Counts)
  }

  test("raw state refuses a re-shard (opaque bytes cannot move key groups)") {
    import spark.implicits._
    val loaded = Savepoints.load(rawResourceDir.toString)
    val rows = Savepoints.reader(spark, loaded, Uid).getAllUnreadKeyedStateRows
    val out = TempDirs.track(Files.createTempDirectory("flink-raw-rs")); Files.delete(out)
    val e = intercept[IllegalArgumentException] {
      Savepoints.writer(spark, loaded, Uid)
        .addKeyedStateRows(rows)
        .withParallelism(8, 512)
        .writeAll(out.toString)
    }
    assert(e.getMessage.contains("raw"))
  }

  test("v3 checkpoint metadata (Flink >=1.11) loads through S1 and " +
    "decodes through P1: coordinator slot, relative handle, channel state") {
    import spark.implicits._
    val dir = FlinkV3GoldenAssembler.v3MetaResourceDir
    val tmp = TempDirs.track(Files.createTempDirectory("flink-v3meta-regen"))
    FlinkV3GoldenAssembler.writeV3MetaFixture(tmp)
    assert(Files.readAllBytes(tmp.resolve("_metadata")).toSeq ===
      Files.readAllBytes(dir.resolve("_metadata")).toSeq, "_metadata drift")
    val meta = Savepoints.load(dir.toString)
    val op = meta.operator("v3-op")
    assert(op.keyCodecId === Some("long"))
    assert(op.coordinatorState.isEmpty) // null handle stages as absent
    val got = Savepoints.reader(spark, meta, "v3-op")
      .readValueStates[Long, Long]("count").collect().toMap
    assert(got === FlinkV3GoldenAssembler.Counts)
  }

  test("v4 (Flink >=1.14) golden metadata loads: finished markers, " +
    "relative handle, and keyed decode through the new envelope") {
    import spark.implicits._
    val dir = FlinkV3GoldenAssembler.v4MetaResourceDir
    val tmp = TempDirs.track(Files.createTempDirectory("flink-v4meta-regen"))
    FlinkV3GoldenAssembler.writeV4MetaFixture(tmp)
    assert(Files.readAllBytes(tmp.resolve("_metadata")).toSeq ===
      Files.readAllBytes(dir.resolve("_metadata")).toSeq, "_metadata drift")
    val meta = Savepoints.load(dir.toString)
    val op = meta.operator(FlinkV3GoldenAssembler.V4Uid)
    assert(op.finishedSubtasks === Set(1), "per-subtask finished marker")
    assert(!op.fullyFinished)
    val src = meta.operator(FlinkV3GoldenAssembler.V4FinishedUid)
    assert(src.fullyFinished && src.keyedFiles.isEmpty &&
      src.parallelism === 4, "fully-finished bounded source")
    val got = Savepoints.reader(spark, meta, FlinkV3GoldenAssembler.V4Uid)
      .readValueStates[Long, Long]("count").collect().toMap
    assert(got === FlinkV3GoldenAssembler.Counts)
  }

  test("v4 finished markers survive a metadata rewrite (round-trips as " +
    "v4) and vanish when the operator is re-bootstrapped with rows") {
    import spark.implicits._
    val meta = Savepoints.load(FlinkV3GoldenAssembler.v4MetaResourceDir.toString)
    // metadata-level rewrite: markers present -> v4 envelope selected
    val out = TempDirs.track(Files.createTempDirectory("flink-v4-rt")); Files.delete(out)
    FlinkMetadataIO.write(out.toString, meta)
    val written = Files.readAllBytes(Paths.get(out.toString, "_metadata"))
    assert(java.nio.ByteBuffer.wrap(written, 4, 4).getInt === 4, "v4 envelope")
    val re = Savepoints.load(out.toString)
    assert(re.operator(FlinkV3GoldenAssembler.V4Uid).finishedSubtasks === Set(1))
    assert(re.operator(FlinkV3GoldenAssembler.V4FinishedUid).fullyFinished)
    val got = Savepoints.reader(spark, re, FlinkV3GoldenAssembler.V4Uid)
      .readValueStates[Long, Long]("count").collect().toMap
    assert(got === FlinkV3GoldenAssembler.Counts)
    // supplying NEW rows un-finishes: the rewritten operator's state is
    // redistributed across all subtasks, so the marker must clear and
    // the file (no other markers) drops back to the v2 envelope
    val out2 = graft.TempDirs.create("flink-v4-unfinish")
    val meta2 = Savepoints
      .writer(spark, re.copy(operators = re.operators
        .filter(_.operatorId == re.operator(FlinkV3GoldenAssembler.V4Uid).operatorId)),
        FlinkV3GoldenAssembler.V4Uid)
      .withDialect(Dialect.Flink)
      .withKeyCodec(Codecs.LongCodec)
      .createNewValueState("count2",
        spark.createDataset(Seq((1L, 10L), (2L, 20L))), Codecs.LongCodec)
      .writeAll(out2)
    assert(meta2.operator(FlinkV3GoldenAssembler.V4Uid).finishedSubtasks.isEmpty)
    val written2 = Files.readAllBytes(Paths.get(out2, "_metadata"))
    assert(java.nio.ByteBuffer.wrap(written2, 4, 4).getInt === 2, "back to v2")
  }

  test("v4 finished markers roundtrip for random marker sets (property)") {
    // randomized sweep over (fullyFinished, finishedSubtasks) shapes:
    // every metadata-only write -> load must preserve the markers and
    // pick the v4 envelope exactly when any marker is present
    val rnd = new scala.util.Random(4177)
    (1 to 20).foreach { i =>
      val nOps = 1 + rnd.nextInt(4)
      val ops = (0 until nOps).map { j =>
        val par = 1 + rnd.nextInt(6)
        val fully = rnd.nextBoolean() && rnd.nextBoolean()
        val finished =
          if (fully) Set.empty[Int]
          else (0 until par).filter(_ => rnd.nextBoolean()).toSet
        OperatorStateMeta(s"prop-op-$i-$j", Identifiers.operatorId(s"prop-op-$i-$j"),
          par, 128, None, Seq.empty, compression = false, Seq.empty,
          fullyFinished = fully, finishedSubtasks = finished)
      }
      val meta = SavepointMeta(i.toLong, "", ops, Dialect.Flink)
      val out = TempDirs.track(Files.createTempDirectory(s"flink-v4-prop$i")); Files.delete(out)
      FlinkMetadataIO.write(out.toString, meta)
      val written = Files.readAllBytes(Paths.get(out.toString, "_metadata"))
      val expectV4 = ops.exists(o => o.fullyFinished || o.finishedSubtasks.nonEmpty)
      val gotVersion = java.nio.ByteBuffer.wrap(written, 4, 4).getInt
      assert((gotVersion == 4) == expectV4, s"case $i: version $gotVersion")
      val re = Savepoints.load(out.toString)
      ops.foreach { o =>
        val ro = re.operator(o.uid)
        assert(ro.fullyFinished == o.fullyFinished, s"case $i op ${o.uid}")
        // markers are only representable in the v4 envelope
        val expectFinished = if (expectV4) o.finishedSubtasks else Set.empty[Int]
        assert(ro.finishedSubtasks == expectFinished, s"case $i op ${o.uid}")
      }
    }
  }

  test("v4 grammar boundaries reject cleanly: sentinel outside v4, " +
    "finished operator carrying state") {
    // a -1 subtask count is ONLY meaningful under the v4 envelope — a
    // v3 file carrying it is corrupt, not fully-finished
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d); d.writeInt(3)
    d.writeLong(1L); d.writeInt(0); d.writeInt(1)
    val id = Identifiers.operatorId("bad-op")
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1); d.writeInt(128)
    d.writeByte(0)  // coordinator: null
    d.writeInt(-1)  // sentinel in a v3 file: corrupt
    d.flush()
    val dir = TempDirs.track(Files.createTempDirectory("flink-v3-badsentinel"))
    Files.write(dir.resolve("_metadata"), bos.toByteArray)
    val e = intercept[IllegalArgumentException](Savepoints.load(dir.toString))
    assert(e.getMessage.contains("bad subtask count"), e.getMessage)
    // a fully-finished operator by definition has no subtask state: the
    // writer must refuse the contradiction instead of emitting it
    val meta = Savepoints.load(FlinkV3GoldenAssembler.v4MetaResourceDir.toString)
    val live = meta.operator(FlinkV3GoldenAssembler.V4Uid)
    val contradiction = meta.copy(operators =
      Seq(live.copy(fullyFinished = true)))
    val out = TempDirs.track(Files.createTempDirectory("flink-v4-contradiction")); Files.delete(out)
    val e2 = intercept[IllegalArgumentException](
      FlinkMetadataIO.write(out.toString, contradiction))
    assert(e2.getMessage.contains("fully finished"), e2.getMessage)
  }

  test("v4 writer emits RELATIVE handles only for co-located state files") {
    import spark.implicits._
    // writeAll lands state files in the output dir, so a v4 write must
    // reference them relatively (fully-relocatable 1.14 savepoint):
    // copying the whole dir elsewhere must still load and decode
    val boot = Savepoints.bootstrap("reloc-op", 2, 128)
    val withFinished = boot.copy(operators = boot.operators :+
      boot.operators.head.copy(uid = "reloc-src",
        operatorId = Identifiers.operatorId("reloc-src"),
        fullyFinished = true))
    val out = graft.TempDirs.create("flink-v4-reloc")
    Savepoints.writer(spark, withFinished, "reloc-op")
      .withDialect(Dialect.Flink)
      .withKeyCodec(Codecs.LongCodec)
      .createNewValueState("n", spark.createDataset(Seq((5L, 50L), (9L, 90L))),
        Codecs.LongCodec)
      .writeAll(out)
    val moved = graft.TempDirs.create("flink-v4-reloc-moved")
    Files.list(Paths.get(out)).iterator().forEachRemaining(p =>
      Files.copy(p, Paths.get(moved, p.getFileName.toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    val re = Savepoints.load(moved) // resolves relative to the NEW dir
    assert(re.operator("reloc-src").fullyFinished)
    val got = Savepoints.reader(spark, re, "reloc-op")
      .readValueStates[Long, Long]("n").collect().toMap
    assert(got === Map(5L -> 50L, 9L -> 90L))
  }

  test("v3 coordinator state is staged on read and replays verbatim " +
    "through a v3 rewrite (never silently dropped)") {
    // hand-assemble a v3 _metadata whose operator carries coordinator
    // state (a FLIP-27 source's enumerator checkpoint)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d); d.writeInt(3)
    d.writeLong(17L); d.writeInt(0); d.writeInt(1)
    val id = Identifiers.operatorId("coord-op")
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1); d.writeInt(128)
    d.writeByte(1) // coordinator: inline byte-stream handle
    d.writeUTF("coordinator")
    val coord = "enumerator-split-state".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    d.writeInt(coord.length); d.write(coord)
    d.writeInt(1)  // one subtask
    d.writeInt(0); d.writeLong(-1L); d.writeInt(0)
    d.writeInt(0)  // managed operator: none
    d.writeInt(0)  // raw operator: none
    d.writeByte(0) // managed keyed: null
    d.writeByte(0) // raw keyed: null
    d.writeInt(0); d.writeInt(0) // channel state: empty
    d.flush()
    val dir = TempDirs.track(Files.createTempDirectory("flink-v3-coord"))
    Files.write(dir.resolve("_metadata"), bos.toByteArray)
    val meta = Savepoints.load(dir.toString)
    val op = meta.operator("coord-op")
    assert(op.coordinatorState.isDefined)
    // the staged section embeds the enumerator payload verbatim
    assert(op.coordinatorState.get.toSeq.containsSlice(coord.toSeq))
    // rewrite: coordinator presence selects the v3 envelope, and the
    // bytes replay exactly
    val out = TempDirs.track(Files.createTempDirectory("flink-v3-coord-out")); Files.delete(out)
    FlinkMetadataIO.write(out.toString, meta)
    val written = Files.readAllBytes(
      java.nio.file.Paths.get(out.toString, "_metadata"))
    assert(java.nio.ByteBuffer.wrap(written, 4, 4).getInt === 3, "v3 envelope")
    val re = Savepoints.load(out.toString)
    assert(re.operator("coord-op").coordinatorState.get.toSeq ===
      op.coordinatorState.get.toSeq)
  }

  test("raw timer stream: proxy grammar roundtrip, flipped-sign " +
    "timestamps, per-key-group sections, empty groups") {
    import graft.core.flink.FlinkTimerIO
    import graft.core.codec.Codecs.{FlinkTimeWindowCodec, LongCodec}
    // two key groups with timers, one without; event + processing
    def timer(k: Long, s0: Long, e0: Long, ts: Long) =
      FlinkTimerIO.Timer(LongCodec.toBytes(k),
        FlinkTimeWindowCodec.toBytes((s0, e0)), ts)
    val groups = Map(
      3 -> Seq(FlinkTimerIO.ServiceGroup("window-timers", "long",
        "flink-window",
        eventTimers = Seq(timer(1L, 0L, 3600L, 3599L), timer(2L, 0L, 3600L, 3599L)),
        processingTimers = Seq(timer(1L, 3600L, 7200L, 7199L)))),
      7 -> Seq(FlinkTimerIO.ServiceGroup("window-timers", "long",
        "flink-window",
        eventTimers = Seq(timer(9L, 0L, 3600L, 3599L)),
        processingTimers = Seq.empty)))
    val section = FlinkTimerIO.buildRawKeyedSection(0, 16, groups)
    // negative-timestamp flip is sign-safe
    assert(FlinkTimerIO.flipSignBit(FlinkTimerIO.flipSignBit(-42L)) === -42L)
    val rows = FlinkTimerIO.decodeSection(section, "", subtask = 0).toSeq
    assert(rows.size === 4)
    assert(rows.count(_.eventTime) === 3)
    val ev = rows.filter(r => r.eventTime)
      .map(r => (LongCodec.fromBytes(r.keyBytes),
        FlinkTimeWindowCodec.fromBytes(r.namespaceBytes), r.timestamp)).toSet
    assert(ev === Set((1L, (0L, 3600L), 3599L), (2L, (0L, 3600L), 3599L),
      (9L, (0L, 3600L), 3599L)))
    assert(rows.forall(_.keyCodecId == "long"))
    assert(rows.forall(_.namespaceCodecId == "flink-window"))
    // the section survives a savepoint rewrite and decodes through the
    // distributed reader API
    import spark.implicits._
    val base = SavepointMeta(21L, "", Seq(
      OperatorStateMeta("t-op", Identifiers.operatorId("t-op"), 1, 16,
        None, Seq.empty, compression = false, Seq.empty)))
    val out = TempDirs.track(Files.createTempDirectory("flink-timers")); Files.delete(out)
    val meta = Savepoints.writer(spark, base, "t-op")
      .withDialect(Dialect.Flink)
      .withKeyCodec(Codecs.LongCodec)
      .createNewValueState("v", Seq((1L, 10L), (2L, 20L)).toDS(), Codecs.LongCodec)
      .writeAll(out.toString)
    val loaded = Savepoints.load(meta.basePath)
    val withTimers = loaded.withReplacedOperators(Seq(
      loaded.operator("t-op").copy(rawKeyedState = Map(0 -> section))))
    val out2 = TempDirs.track(Files.createTempDirectory("flink-timers2")); Files.delete(out2)
    val meta2 = Savepoints.writer(spark, withTimers, "t-op")
      .addKeyedStateRows(Savepoints.reader(spark, withTimers, "t-op")
        .getAllUnreadKeyedStateRows)
      .writeAll(out2.toString)
    val got = Savepoints.reader(spark, Savepoints.load(meta2.basePath), "t-op")
      .readEventTimeWindowTimers[Long]()
      .collect().toSet
    assert(got === Set((1L, 0L, 3600L, 3599L), (2L, 0L, 3600L, 3599L),
      (9L, 0L, 3600L, 3599L)))
  }

  test("v3 (Flink 1.8+) empty-body simple snapshots also read") {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(2); d.writeBoolean(true)
    d.writeUTF("org.apache.flink.api.common.typeutils.base.LongSerializer$LongSerializerSnapshot")
    d.writeInt(3) // 1.8+ version: no body
    d.flush()
    assert(graft.core.flink.FlinkSnapshots.read(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(bos.toByteArray)))
      === "long")
  }

  test("raw operator state is skipped structurally, not parsed as a proxy") {
    // metadata with ONE subtask carrying raw operator state whose
    // delegate is arbitrary user bytes (would fail a proxy parse)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d); d.writeInt(2)
    d.writeLong(9L); d.writeInt(0); d.writeInt(1)
    val id = Identifiers.operatorId("raw-op")
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1); d.writeInt(128); d.writeInt(1)
    d.writeInt(1)   // one subtask
    d.writeInt(0)   // index
    d.writeLong(-1L); d.writeInt(0)
    d.writeInt(0)   // managed operator state: none
    d.writeInt(1)   // raw operator state present
    d.writeByte(4)  // PARTITIONABLE_OPERATOR_STATE_HANDLE
    d.writeInt(1)   // one named state
    d.writeUTF("user-raw"); d.writeByte(0)
    d.writeInt(1); d.writeLong(0L)
    d.writeByte(1)  // inline byte-stream delegate
    d.writeUTF("raw")
    val junk = Array.tabulate[Byte](37)(i => (i * 31 + 5).toByte) // NOT a proxy
    d.writeInt(junk.length); d.write(junk)
    d.writeByte(0)  // managed keyed: null
    d.writeByte(0)  // raw keyed: null
    d.flush()
    val dir = TempDirs.track(Files.createTempDirectory("flink-raw-op"))
    Files.write(dir.resolve("_metadata"), bos.toByteArray)
    val meta = Savepoints.load(dir.toString) // must not throw
    val op = meta.operator("raw-op")
    assert(op.nonKeyed.isEmpty)
    // ...and the whole section (tag byte onward) is staged verbatim for
    // replay, junk delegate included
    assert(op.rawOperatorState(0).toSeq.containsSlice(junk.toSeq))
    assert(op.rawOperatorState(0).head === 4.toByte)
  }

  test("proxy rejects graft-only codec layouts in the Flink dialect") {
    val e = intercept[IllegalArgumentException] {
      FlinkProxyIO.toBytes(FlinkProxyIO.Proxy(compression = false,
        keyCodecId = "string",
        states = Seq(StateMeta("s", StateKind.Value, "long"))))
    }
    assert(e.getMessage.contains("flink-string"))
  }

  test("corrupt inputs fail with clear errors, not garbage results") {
    // wrong savepoint version
    val badVersion = {
      val bos = new ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      d.writeInt(0x4960672d); d.writeInt(99); d.flush()
      bos.toByteArray
    }
    val dir1 = TempDirs.track(Files.createTempDirectory("flink-bad-v"))
    Files.write(dir1.resolve("_metadata"), badVersion)
    val e1 = intercept[IllegalArgumentException] {
      Savepoints.load(dir1.toString)
    }
    assert(e1.getMessage.contains("version"))
    // truncated key-group segment: the decoder must raise EOF, not
    // return a partial row set
    val goldenState = Files.readAllBytes(resourceDir.resolve(golden.StateFileName))
    val truncated = java.util.Arrays.copyOf(goldenState, goldenState.length - 5)
    val off = golden.offsets().filter(_ > 0).last // truncation hits this group
    intercept[java.io.EOFException] {
      val in = new java.io.ByteArrayInputStream(
        java.util.Arrays.copyOfRange(truncated, off.toInt, truncated.length))
      graft.core.scan.FlinkStreamFormat
        .decodeGroup(in, compression = false, _ => true).toList
    }
    // impossible record lengths: an IOException naming the field, on
    // the read and the skip path alike (not an index / array-size error,
    // and not a silently misaligned skip)
    def flinkRecord(keyLen: Int, valueLen: Int): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      d.writeShort(0) // stateId
      d.writeInt(keyLen); d.writeByte(0x80) // flag: metadata follows
      d.writeInt(valueLen)
      d.writeShort(0xffff); d.flush()
      bos.toByteArray
    }
    val negVarInt = Array(0xff, 0xff, 0xff, 0xff, 0x0f).map(_.toByte) // -1
    val badLengths: Seq[(String, Boolean => Iterator[_])] =
      Seq((0, 1, "keyLen 0"), (-1, 1, "keyLen -1"), (1, -1, "valueLen -1")).map {
        case (k, v, what) => what -> ((kept: Boolean) =>
          graft.core.scan.FlinkStreamFormat.decodeGroup(
            new java.io.ByteArrayInputStream(flinkRecord(k, v)),
            compression = false, _ => kept))
      } ++ Seq(
        (Array[Byte](0, 0) ++ negVarInt, "keyLen -1"),
        (Array[Byte](0, 0, 1, 7) ++ negVarInt, "valueLen -1")).map {
        case (bytes, what) => what -> ((kept: Boolean) =>
          graft.core.scan.StateStreamFormat.decodeGroup(
            new java.io.ByteArrayInputStream(bytes), compression = false, _ => kept))
      }
    for ((what, decode) <- badLengths; kept <- Seq(true, false)) {
      val e = intercept[java.io.IOException](decode(kept).toList)
      assert(!e.isInstanceOf[java.io.EOFException], what)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    // unknown proxy version
    val badProxy = {
      val bos = new ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      d.writeInt(42); d.flush(); bos.toByteArray
    }
    val e3 = intercept[IllegalArgumentException] {
      FlinkProxyIO.read(new java.io.ByteArrayInputStream(badProxy))
    }
    assert(e3.getMessage.contains("version 42"))
  }

  test("proxy roundtrips list and map state metadata") {
    val p = FlinkProxyIO.Proxy(compression = true, keyCodecId = "long",
      states = Seq(
        StateMeta("l", StateKind.List, "list<double>"),
        StateMeta("m", StateKind.Map, "flink-string", Some("int")),
        StateMeta("v", StateKind.Value, "flink-bytes")))
    val back = FlinkProxyIO.read(new java.io.ByteArrayInputStream(FlinkProxyIO.toBytes(p)))
    assert(back === p)
  }
}

/** Independent assembler for a Flink 1.8+-style savepoint whose
  * serializer snapshots use the v3 EMPTY-BODY layout (1.8's
  * SimpleTypeSerializerSnapshot bumped to version 3 and stopped writing
  * the serializer class name as a UTF body; 1.7 wrote version 2 with
  * the body). The production reader must resolve codecs from these
  * envelopes and decode the state through P1 — proving forward
  * compatibility beyond the reference's pinned 1.7.1 target.
  */
object FlinkV3GoldenAssembler {

  val CheckpointId = 90L
  val StateFileName = "state-0"
  private val Uid = "v3-op"
  private val MaxPar = 128

  // three long keys in distinct key groups
  val Keys: Seq[Long] = {
    val picked = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    var k = 0L
    while (picked.size < 3) {
      val kg = KeyGroups.assignToKeyGroup(k, MaxPar)
      if (!picked.contains(kg)) picked(kg) = k
      k += 1
    }
    picked.values.toSeq
  }
  val Counts: Map[Long, Long] = Keys.zipWithIndex.map { case (k, i) => k -> (i * 11L + 3L) }.toMap

  def resourceDir: Path = {
    val p = Paths.get("src/test/resources/flink-golden-v3")
    if (!Files.exists(p.resolve("_metadata"))) {
      Files.createDirectories(p)
      writeFixture(p)
    }
    p
  }

  private def writeV3Snapshot(d: DataOutputStream, serializerCls: String): Unit = {
    val simpleName = serializerCls.substring(serializerCls.lastIndexOf('.') + 1)
      .replace("$", "")
    d.writeInt(2)        // snapshot envelope version
    d.writeBoolean(true) // new-style snapshot
    d.writeUTF(serializerCls + "$" + simpleName + "Snapshot")
    d.writeInt(3)        // SimpleTypeSerializerSnapshot v3: EMPTY body
  }

  private def proxyBytes(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(5)            // KeyedBackendSerializationProxy.VERSION
    d.writeBoolean(false)    // no key-group compression
    writeV3Snapshot(d, "org.apache.flink.api.common.typeutils.base.LongSerializer")
    d.writeShort(1)
    d.writeUTF("count")
    d.writeInt(0) // KEY_VALUE
    d.writeInt(1)
    d.writeUTF("KEYED_STATE_TYPE"); d.writeUTF("VALUE")
    d.writeInt(2)
    d.writeUTF("NAMESPACE_SERIALIZER")
    writeV3Snapshot(d, "org.apache.flink.runtime.state.VoidNamespaceSerializer")
    d.writeUTF("VALUE_SERIALIZER")
    writeV3Snapshot(d, "org.apache.flink.api.common.typeutils.base.LongSerializer")
    d.flush(); bos.toByteArray
  }

  private def stateFileBytes(): (Array[Byte], Seq[Long]) = {
    def keyBytes(key: Long): Array[Byte] = {
      val w = new graft.core.codec.ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, MaxPar), MaxPar)
      Codecs.LongCodec.write(w, key)
      w.writeByte(0) // VoidNamespace
      w.toBytes
    }
    val bos = new ByteArrayOutputStream()
    bos.write(proxyBytes())
    val offsets = Array.fill[Long](MaxPar)(0L)
    Keys.map(k => (KeyGroups.assignToKeyGroup(k, MaxPar), k)).sortBy(_._1)
      .foreach { case (kg, k) =>
        offsets(kg) = bos.size().toLong
        val d = new DataOutputStream(bos)
        d.writeShort(0) // state id 0
        val key = keyBytes(k)
        val value = Codecs.LongCodec.toBytes(Counts(k))
        d.writeInt(key.length)
        d.writeByte(key(0) | 0x80) // single record: metadata follows
        d.write(key, 1, key.length - 1)
        d.writeInt(value.length)
        d.write(value)
        d.writeShort(0xffff) // END_OF_KEY_GROUP
        d.flush()
      }
    (bos.toByteArray, offsets.toSeq)
  }

  private def metadataBytes(stateFileSize: Long, offsets: Seq[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d) // HEADER_MAGIC_NUMBER
    d.writeInt(2)          // SavepointV2
    d.writeLong(CheckpointId)
    d.writeInt(0)          // master states
    d.writeInt(1)          // one operator
    val id = Identifiers.operatorId(Uid)
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1); d.writeInt(MaxPar); d.writeInt(1)
    d.writeInt(1)          // one subtask
    d.writeInt(0)
    d.writeLong(-1L); d.writeInt(0)
    d.writeInt(0)          // managed operator state: none
    d.writeInt(0)          // raw operator state: none
    d.writeByte(3)         // KEY_GROUPS_HANDLE
    d.writeInt(0); d.writeInt(MaxPar)
    offsets.foreach(d.writeLong)
    d.writeByte(2)         // FILE_STREAM_STATE_HANDLE
    d.writeLong(stateFileSize)
    d.writeUTF(StateFileName)
    d.writeByte(0)         // raw keyed: null
    d.flush(); bos.toByteArray
  }

  def writeFixture(dir: Path): Unit = {
    val (state, offsets) = stateFileBytes()
    Files.write(dir.resolve(StateFileName), state)
    Files.write(dir.resolve("_metadata"), metadataBytes(state.length.toLong, offsets))
  }

  /** Checkpoint-metadata VERSION 3 fixture (Flink >=1.11,
    * MetadataV3Serializer): per-operator coordinator handle instead of
    * the legacy chain-length int, per-subtask trailing channel-state
    * collections (empty — savepoints are aligned), and the state file
    * referenced through the RELATIVE stream handle of relocatable
    * savepoints. Same proxy/state-file bytes as the v2-era fixture.
    */
  def v3MetaResourceDir: Path = {
    val p = Paths.get("src/test/resources/flink-golden-v3meta")
    if (!Files.exists(p.resolve("_metadata"))) {
      Files.createDirectories(p)
      writeV3MetaFixture(p)
    }
    p
  }

  def writeV3MetaFixture(dir: Path): Unit = {
    val (state, offsets) = stateFileBytes()
    Files.write(dir.resolve(StateFileName), state)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d) // HEADER_MAGIC_NUMBER
    d.writeInt(3)          // checkpoint metadata v3
    d.writeLong(CheckpointId)
    d.writeInt(0)          // master states
    d.writeInt(1)          // one operator
    val id = Identifiers.operatorId(Uid)
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1); d.writeInt(MaxPar)
    d.writeByte(0)         // coordinator state: null handle
    d.writeInt(1)          // one subtask
    d.writeInt(0)          // subtask index
    d.writeLong(-1L); d.writeInt(0)
    d.writeInt(0)          // managed operator state: none
    d.writeInt(0)          // raw operator state: none
    d.writeByte(3)         // KEY_GROUPS_HANDLE
    d.writeInt(0); d.writeInt(MaxPar)
    offsets.foreach(d.writeLong)
    d.writeByte(6)         // RELATIVE_STREAM_STATE_HANDLE (relocatable)
    d.writeUTF(StateFileName)
    d.writeLong(state.length.toLong)
    d.writeByte(0)         // raw keyed: null
    d.writeInt(0)          // input-channel state: empty
    d.writeInt(0)          // result-subpartition state: empty
    d.flush()
    Files.write(dir.resolve("_metadata"), bos.toByteArray)
  }

  /** Checkpoint-metadata VERSION 4 fixture (Flink >=1.14,
    * MetadataV4Serializer / FLIP-147 "checkpoints after tasks
    * finished"): the v3 layout plus finished-ness — operator
    * "v4-finished-src" is a drained bounded source serialized with the
    * fully-finished sentinel (subtask count -1, nothing after), and
    * operator "v4-op" runs at parallelism 2 with subtask 0 live
    * (boolean false + the ordinary v3 body, relative state handle) and
    * subtask 1 finished (boolean true, no further bytes). Same
    * proxy/state-file bytes as the other fixtures.
    */
  val V4Uid = "v4-op"
  val V4FinishedUid = "v4-finished-src"

  def v4MetaResourceDir: Path = {
    val p = Paths.get("src/test/resources/flink-golden-v4meta")
    if (!Files.exists(p.resolve("_metadata"))) {
      Files.createDirectories(p)
      writeV4MetaFixture(p)
    }
    p
  }

  def writeV4MetaFixture(dir: Path): Unit = {
    val (state, offsets) = stateFileBytes()
    Files.write(dir.resolve(StateFileName), state)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d) // HEADER_MAGIC_NUMBER
    d.writeInt(4)          // checkpoint metadata v4 (Flink >=1.14)
    d.writeLong(CheckpointId)
    d.writeInt(0)          // master states
    d.writeInt(2)          // two operators
    // operator 1: live keyed operator, one finished subtask
    val id = Identifiers.operatorId(V4Uid)
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(2); d.writeInt(MaxPar)
    d.writeByte(0)         // coordinator state: null handle
    d.writeInt(2)          // two subtasks
    d.writeInt(0)          // subtask index 0
    d.writeBoolean(false)  // v4: not finished -> ordinary body follows
    d.writeLong(-1L); d.writeInt(0)
    d.writeInt(0)          // managed operator state: none
    d.writeInt(0)          // raw operator state: none
    d.writeByte(3)         // KEY_GROUPS_HANDLE
    d.writeInt(0); d.writeInt(MaxPar)
    offsets.foreach(d.writeLong)
    d.writeByte(6)         // RELATIVE_STREAM_STATE_HANDLE (relocatable)
    d.writeUTF(StateFileName)
    d.writeLong(state.length.toLong)
    d.writeByte(0)         // raw keyed: null
    d.writeInt(0)          // input-channel state: empty
    d.writeInt(0)          // result-subpartition state: empty
    d.writeInt(1)          // subtask index 1
    d.writeBoolean(true)   // v4: FINISHED — single boolean, no body
    // operator 2: fully-finished bounded source
    val fid = Identifiers.operatorId(V4FinishedUid)
    d.writeLong(java.lang.Long.parseUnsignedLong(fid.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(fid.substring(16), 16))
    d.writeInt(4); d.writeInt(MaxPar)
    d.writeByte(0)         // coordinator state: null handle
    d.writeInt(-1)         // v4 sentinel: fully finished, nothing follows
    d.flush()
    Files.write(dir.resolve("_metadata"), bos.toByteArray)
  }
}

/** Independent hand-assembler for the golden fixture: writes the Flink
  * layout byte-by-byte from the documented grammar, sharing NO code
  * with the production encoder (so agreement is evidence, not
  * tautology). Keys are chosen so every (key-group, state) pair holds
  * exactly one record — making the production writer's output order
  * fully deterministic — while still covering: a mid-group state-id
  * transition (flag + new state-id short), group ends (flag + 0xFFFF),
  * and multiple key-groups.
  */
object FlinkGoldenAssembler {

  val CheckpointId = 42L
  val StateFileName = "state-0"
  private val Uid = "flink-op"
  private val MaxPar = 128

  // three keys in three distinct key-groups (asserted below)
  val Keys: Seq[String] = pickDistinctKeyGroupKeys(3)
  val Counts: Map[String, Long] = Keys.zipWithIndex.map { case (k, i) => k -> (i * 100L + 7L) }.toMap
  val Tags: Map[String, String] = Keys.map(k => k -> s"tag-of-$k").toMap

  private def pickDistinctKeyGroupKeys(n: Int): Seq[String] = {
    val picked = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    var i = 0
    while (picked.size < n) {
      val k = s"user-$i"
      val kg = KeyGroups.assignToKeyGroup(k, MaxPar)
      if (!picked.contains(kg)) picked(kg) = k
      i += 1
    }
    picked.values.toSeq
  }

  /** (keyGroup, stateId, keyBytes, valueBytes), sorted like the write
    * job sorts: by (keyGroup, stateId).
    */
  private def records(): Seq[(Int, Int, Array[Byte], Array[Byte])] = {
    def keyBytes(key: String): Array[Byte] = {
      val w = new graft.core.codec.ByteWriter()
      KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, MaxPar), MaxPar)
      Codecs.FlinkStringCodec.write(w, key)
      w.writeByte(0) // VoidNamespace: single 0 byte
      w.toBytes
    }
    Keys.flatMap { k =>
      val kg = KeyGroups.assignToKeyGroup(k, MaxPar)
      Seq(
        (kg, 0, keyBytes(k), Codecs.LongCodec.toBytes(Counts(k))),
        (kg, 1, keyBytes(k), Codecs.FlinkStringCodec.toBytes(Tags(k))))
    }.sortBy(r => (r._1, r._2))
  }

  /** Proxy metaBytes per the reconstructed v5 grammar. */
  private def proxyBytes(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(5)            // KeyedBackendSerializationProxy.VERSION
    d.writeBoolean(false)    // no key-group compression
    writeSimpleSnapshot(d,
      "org.apache.flink.api.common.typeutils.base.StringSerializer")
    d.writeShort(2)          // two states
    writeValueStateMeta(d, "count",
      "org.apache.flink.api.common.typeutils.base.LongSerializer")
    writeValueStateMeta(d, "tag",
      "org.apache.flink.api.common.typeutils.base.StringSerializer")
    d.flush(); bos.toByteArray
  }

  /** Flink 1.7.1 simple snapshot: nested `$...SerializerSnapshot` class
    * in the envelope, version 2, serializer class name as the UTF body
    * (1.7's SimpleTypeSerializerSnapshot.writeSnapshot).
    */
  private def writeSimpleSnapshot(d: DataOutputStream, serializerCls: String): Unit = {
    val simpleName = serializerCls.substring(serializerCls.lastIndexOf('.') + 1)
      .replace("$", "")
    d.writeInt(2)        // snapshot envelope version
    d.writeBoolean(true) // new-style snapshot
    d.writeUTF(serializerCls + "$" + simpleName + "Snapshot")
    d.writeInt(2)        // SimpleTypeSerializerSnapshot version (1.7.x)
    d.writeUTF(serializerCls) // v2 body: the serializer class name
  }

  private def writeValueStateMeta(d: DataOutputStream, name: String, valueCls: String): Unit = {
    d.writeUTF(name)
    d.writeInt(0) // BackendStateType.KEY_VALUE
    d.writeInt(1) // one option
    d.writeUTF("KEYED_STATE_TYPE"); d.writeUTF("VALUE")
    d.writeInt(2) // two serializer snapshots
    d.writeUTF("NAMESPACE_SERIALIZER")
    writeSimpleSnapshot(d,
      "org.apache.flink.runtime.state.VoidNamespaceSerializer")
    d.writeUTF("VALUE_SERIALIZER")
    writeSimpleSnapshot(d, valueCls)
  }

  /** State stream: proxy head, then per-group segments with the
    * flag-bit / state-id-run / END_OF_KEY_GROUP grammar. Uncompressed
    * (the compressed path is covered by roundtrip tests).
    */
  private def stateFileBytes(): (Array[Byte], Seq[Long]) = {
    val proxy = proxyBytes()
    val bos = new ByteArrayOutputStream()
    bos.write(proxy)
    val offsets = Array.fill[Long](MaxPar)(0L)
    val byGroup = records().groupBy(_._1).toSeq.sortBy(_._1)
    byGroup.foreach { case (kg, recs) =>
      offsets(kg) = bos.size().toLong
      val d = new DataOutputStream(bos)
      d.writeShort(recs.head._2) // first state id of the group
      recs.zipWithIndex.foreach { case ((_, stateId, key, value), i) =>
        val next = if (i + 1 < recs.size) Some(recs(i + 1)._2) else None
        val metaFollows = next.forall(_ != stateId) // state change or group end
        d.writeInt(key.length)
        d.writeByte(if (metaFollows) key(0) | 0x80 else key(0))
        d.write(key, 1, key.length - 1)
        d.writeInt(value.length)
        d.write(value)
        next match {
          case Some(ns) if ns != stateId => d.writeShort(ns)
          case None                      => d.writeShort(0xffff)
          case _                         =>
        }
      }
      d.flush()
    }
    (bos.toByteArray, offsets.toSeq)
  }

  def offsets(): Seq[Long] = stateFileBytes()._2

  /** Master-state payload mimicking Flink 1.7's MasterState body
    * (version int, UTF name, length-prefixed opaque hook bytes). The
    * production code treats it as one opaque blob between the
    * magic/length framing — this realistic shape proves verbatim
    * passthrough of real hook state.
    */
  def masterStatePayload(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(1)            // MasterState version
    d.writeUTF("golden-hook")
    val hook = "hook-state-bytes".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    d.writeInt(hook.length); d.write(hook)
    d.flush(); bos.toByteArray
  }

  /** `_metadata` per the reconstructed SavepointV2 grammar. The state
    * file path is RELATIVE (resolved against the metadata dir) so the
    * checked-in fixture is location-independent; real Flink writes
    * absolute URIs, which the reader also accepts. `rawOp`/`rawKeyed`
    * inject verbatim raw-state sections for the W7 passthrough fixture.
    */
  private def metadataBytes(stateFileSize: Long,
      rawOp: Option[Array[Byte]] = None,
      rawKeyed: Option[Array[Byte]] = None): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(0x4960672d) // HEADER_MAGIC_NUMBER
    d.writeInt(2)          // SavepointV2
    d.writeLong(CheckpointId)
    d.writeInt(1)          // one master state (MASTER_STATE_MAGIC framing)
    val master = masterStatePayload()
    d.writeInt(0xc96b1696)
    d.writeInt(master.length)
    d.write(master)
    d.writeInt(1)          // one operator
    val id = Identifiers.operatorId(Uid)
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16))
    d.writeLong(java.lang.Long.parseUnsignedLong(id.substring(16), 16))
    d.writeInt(1)          // parallelism
    d.writeInt(MaxPar)     // max parallelism
    d.writeInt(1)          // legacy chain length
    d.writeInt(1)          // one subtask
    d.writeInt(0)          // subtask index
    d.writeLong(-1L)       // legacy duration
    d.writeInt(0)          // legacy state count
    d.writeInt(0)          // managed operator state: none
    rawOp match {          // raw operator state
      case None    => d.writeInt(0)
      case Some(b) => d.writeInt(1); d.write(b)
    }
    d.writeByte(3)         // KEY_GROUPS_HANDLE
    d.writeInt(0)          // start key group
    d.writeInt(MaxPar)     // number of key groups
    offsets().foreach(d.writeLong)
    d.writeByte(2)         // FILE_STREAM_STATE_HANDLE
    d.writeLong(stateFileSize)
    d.writeUTF(StateFileName)
    rawKeyed match {       // raw keyed state
      case None    => d.writeByte(0)
      case Some(b) => d.write(b)
    }
    d.flush(); bos.toByteArray
  }

  /** Raw keyed-state section: a KEY_GROUPS handle whose inline
    * byte-stream delegate holds opaque bytes — the shape Flink 1.7's
    * heap timer service snapshots into the raw keyed stream. The
    * production code must carry the whole section verbatim.
    */
  def rawKeyedSection(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeByte(3)           // KEY_GROUPS_HANDLE
    d.writeInt(0)            // start key group
    d.writeInt(1)            // one key group
    d.writeLong(0L)          // its offset
    d.writeByte(1)           // inline byte-stream delegate
    d.writeUTF("raw-keyed")
    val payload = "heap-timer-stream-bytes"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    d.writeInt(payload.length); d.write(payload)
    d.flush(); bos.toByteArray
  }

  /** Raw operator-state section (after the presence flag): a
    * PARTITIONABLE handle whose delegate bytes are arbitrary user
    * output, NOT an OperatorBackendSerializationProxy.
    */
  def rawOperatorSection(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeByte(4)           // PARTITIONABLE_OPERATOR_STATE_HANDLE
    d.writeInt(1)            // one named state
    d.writeUTF("user-raw-op"); d.writeByte(0)
    d.writeInt(1); d.writeLong(0L)
    d.writeByte(1)           // inline byte-stream delegate
    d.writeUTF("raw-op")
    val payload = Array.tabulate[Byte](29)(i => (i * 17 + 3).toByte)
    d.writeInt(payload.length); d.write(payload)
    d.flush(); bos.toByteArray
  }

  def writeFixture(dir: Path): Unit = {
    val (state, _) = stateFileBytes()
    Files.write(dir.resolve(StateFileName), state)
    Files.write(dir.resolve("_metadata"), metadataBytes(state.length.toLong))
  }

  /** The W7 raw-state fixture: same managed state as the main fixture,
    * plus raw operator + raw keyed sections on subtask 0.
    */
  def writeRawFixture(dir: Path): Unit = {
    val (state, _) = stateFileBytes()
    Files.write(dir.resolve(StateFileName), state)
    Files.write(dir.resolve("_metadata"), metadataBytes(state.length.toLong,
      rawOp = Some(rawOperatorSection()), rawKeyed = Some(rawKeyedSection())))
  }
}
