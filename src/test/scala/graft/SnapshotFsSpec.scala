package graft

import graft.core.codec.Codecs
import graft.core.flink.{FlinkMetadataIO, FlinkTimerIO}
import graft.core.meta.{Dialect, KeyedFileHandle, MetadataIO, SavepointMeta}
import graft.core.scan.RocksDbCheckpoints
import graft.state.{Savepoints, StateMaintenance}

import org.apache.hadoop.fs.FileAlreadyExistsException
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Snapshot file IO through its one home ([[graft.core.io.SnapshotFs]]):
  * scheme-qualified savepoint paths, the one NO_OVERWRITE failure of
  * both `_metadata` dialects, relative and scheme-qualified spellings
  * of one savepoint, file-backed timer sections and the cleanup of a
  * failed checkpoint download.
  */
class SnapshotFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A `file:` URI for a not-yet-existing dir under a tracked temp dir. */
  private def fileUri(prefix: String): String =
    "file:" + Paths.get(TempDirs.create(prefix), "sp").toString

  for ((name, dialect) <- Seq("graft" -> Dialect.Graft, "flink" -> Dialect.Flink))
    test(s"$name dialect: writeAll to a file: URI round-trips through load, " +
      "raw scan and typed read") {
      import spark.implicits._
      val values = (1L to 50L).map(k => (k, k * 3))
      val out = fileUri(s"graft-fsuri-$name")
      val meta = Savepoints.writer(spark, Savepoints.bootstrap("uri-op", 2, 128), "uri-op")
        .withDialect(dialect)
        .withKeyCodec(Codecs.LongCodec)
        .createNewValueState("V", values.toDS(), Codecs.LongCodec)
        .writeAll(out)
      val loaded = Savepoints.load(out)
      assert(loaded.dialect === dialect)
      assert(loaded.checkpointId === meta.checkpointId)
      assert(loaded.operator("uri-op").keyedFiles.size === 2)
      val raw = spark.read.format("flink-savepoint").option("uid", "uri-op").load(out)
      assert(raw.count() === values.size)
      val got = Savepoints.reader(spark, loaded, "uri-op")
        .readValueStates[Long, Long]("V").collect().toMap
      assert(got === values.toMap)
    }

  test("_metadata NO_OVERWRITE fails with one exception type in both dialects; " +
    "a rejected Flink write leaves no _metadata") {
    val meta = SavepointMeta(3L, "", Savepoints.bootstrap("nw-op", 1, 128).operators)
    val graftDir = TempDirs.create("graft-nw-graft")
    MetadataIO.write(graftDir, meta)
    intercept[FileAlreadyExistsException](MetadataIO.write(graftDir, meta))
    val flinkDir = TempDirs.create("graft-nw-flink")
    FlinkMetadataIO.write(flinkDir, meta)
    intercept[FileAlreadyExistsException](FlinkMetadataIO.write(flinkDir, meta))
    // a keyed handle whose state file is missing fails inside the write
    val failed = TempDirs.create("graft-nw-dangling")
    val dangling = meta.copy(basePath = failed, operators = meta.operators.map(_.copy(
      keyedFiles = Seq(KeyedFileHandle(0, "op-x/missing", 0, 127, Seq(0L),
        KeyedFileHandle.FlinkStreamKind)))))
    intercept[java.io.FileNotFoundException](FlinkMetadataIO.write(failed, dangling))
    assert(!Files.exists(Paths.get(failed, "_metadata")))
  }

  test("a file-backed timer section decodes like the inline section of the same bytes") {
    import Codecs.{FlinkTimeWindowCodec, LongCodec}
    def timer(k: Long, ts: Long) = FlinkTimerIO.Timer(LongCodec.toBytes(k),
      FlinkTimeWindowCodec.toBytes((0L, 3600L)), ts)
    def group(ts: FlinkTimerIO.Timer*) = Seq(FlinkTimerIO.ServiceGroup(
      "window-timers", "long", "flink-window", ts, Seq(timer(99L, 7199L))))
    val inline = FlinkTimerIO.buildRawKeyedSection(4, 3,
      Map(4 -> group(timer(1L, 3599L)), 6 -> group(timer(2L, 3599L), timer(3L, 1L))))
    val h = FlinkTimerIO.parseSection(inline, "").get
    val file = Paths.get(TempDirs.create("graft-timer-file"), "raw-keyed")
    Files.write(file, h.inline.get)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeByte(FlinkMetadataIO.KeyGroupsHandle)
    d.writeInt(h.kgStart)
    d.writeInt(h.offsets.size)
    h.offsets.foreach(d.writeLong)
    d.writeByte(FlinkMetadataIO.FileStreamHandle)
    d.writeLong(Files.size(file))
    d.writeUTF(file.toString)
    d.flush()
    def rows(section: Array[Byte]) = FlinkTimerIO.decodeSection(section, "", subtask = 0)
      .map(r => (r.service, r.eventTime, r.keyBytes.toSeq, r.namespaceBytes.toSeq, r.timestamp))
      .toVector
    val expected = rows(inline)
    assert(expected.size === 5) // groups 4 and 6: 3 event and 2 processing timers
    assert(rows(bos.toByteArray) === expected)
  }

  for ((name, dialect) <- Seq("graft" -> Dialect.Graft, "flink" -> Dialect.Flink))
    test(s"$name dialect: a savepoint loaded through a relative path keeps its " +
      "untouched operator readable after a rewrite into another dir and a GC of " +
      "the source loaded through a file: URI") {
      import spark.implicits._
      val sp0 = SavepointMeta(0L, "", Seq(
        Savepoints.bootstrap("opA", 2, 128).operators.head,
        Savepoints.bootstrap("opB", 2, 128).operators.head))
      def write(base: SavepointMeta, uid: String, rows: Seq[(Long, Long)], dir: String) =
        Savepoints.writer(spark, base, uid).withDialect(dialect)
          .withKeyCodec(Codecs.LongCodec)
          .createNewValueState("v", rows.toDS(), Codecs.LongCodec)
          .writeAll(dir)
      val dirA = TempDirs.create(s"graft-rel-a-$name")
      val dirB = TempDirs.create(s"graft-rel-b-$name")
      write(write(sp0, "opA", Seq(1L -> 10L), dirA), "opB", Seq(2L -> 20L), dirB)
      // opB's files live in dirB, which is now named relative to the working dir
      val relB = Paths.get("").toAbsolutePath.relativize(Paths.get(dirB)).toString
      val loaded = Savepoints.load(relB)
      assert(new org.apache.hadoop.fs.Path(loaded.basePath).isUriPathAbsolute)
      // deeper than the working dir, so a handle still relative to it
      // (`../../tmp/…`) cannot climb back out of dirC to dirB by chance
      val depth = Paths.get("").toAbsolutePath.getNameCount
      val dirC = Iterator.iterate(Paths.get(TempDirs.create(s"graft-rel-c-$name")))(
        _.resolve("d")).drop(depth).next().toString
      Savepoints.writer(spark, loaded, "opA")
        .addValueState("v", Seq(1L -> 11L).toDS())
        .writeAll(dirC)
      val reloaded = Savepoints.load(dirC)
      // retiring dirB must keep the opB files dirC still uses, however
      // the two savepoints spell the same file
      val gc = StateMaintenance.gcSavepoint(Savepoints.load("file:" + dirB), Seq(reloaded))
      assert(gc.skippedLiveDirs.nonEmpty)
      assert(Savepoints.reader(spark, reloaded, "opB")
        .readValueStates[Long, Long]("v").collect().toMap === Map(2L -> 20L))
      assert(Savepoints.reader(spark, reloaded, "opA")
        .readValueStates[Long, Long]("v").collect().toMap === Map(1L -> 11L))
    }

  test("localizing a stub whose manifest names a missing file throws and " +
    "leaves no graft-rocks-* dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def downloadDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-rocks-dl")).toSet
      finally ls.close()
    }
    TempDirs.scoped("graft-stub") { stub =>
      Files.write(stub.resolve("CURRENT"), "MANIFEST-000001\n".getBytes("UTF-8"))
      Files.write(stub.resolve(RocksDbCheckpoints.ManifestName), RocksDbCheckpoints.manifestBytes(
        Seq("000009.sst" -> stub.resolve("missing/000009.sst").toUri.toString)))
      val before = downloadDirs()
      intercept[java.io.FileNotFoundException](RocksDbCheckpoints.localize(stub.toString))
      // only a new graft-rocks-dl* dir would be this call's: other
      // processes may add or remove theirs meanwhile
      assert((downloadDirs() -- before).isEmpty)
    }
  }
}
