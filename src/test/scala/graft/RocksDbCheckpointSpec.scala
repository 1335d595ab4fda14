package graft

import graft.core.codec.Codecs.IntCodec
import graft.core.meta._
import graft.core.scan.RocksDbCheckpoints
import graft.state.{KeyedStateRow, Savepoints, StateRowEncoder}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** S4: incremental (RocksDB-native) checkpoint reads, mirroring
  * RocksDBCheckpointReadingTest.java:47-68 — state lives in a real
  * RocksDB instance, one column family per state.
  */
class RocksDbCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def buildSavepoint(): SavepointMeta = {
    val dir = TempDirs.create("graft-rocks-sp")
    def row(name: String, k: Int, v: Int): KeyedStateRow =
      StateRowEncoder.valueRow(name, k, v, IntCodec, IntCodec, 128)
    val rows = Seq(
      row("Count", 1, 2), row("Count", 2, 1),
      row("Other", 7, 70), row("Other", 8, 80))
    RocksDbCheckpoints.createCheckpoint(s"$dir/rocks-0",
      rows.map(r => (r.stateName, r.keyAndNamespaceBytes, r.valueBytes)))
    val op = OperatorStateMeta("rocky", Identifiers.operatorId("rocky"),
      parallelism = 1, maxParallelism = 128, keyCodecId = Some("int"),
      states = Seq(
        StateMeta("Count", StateKind.Value, "int"),
        StateMeta("Other", StateKind.Value, "int")),
      compression = false,
      keyedFiles = Seq(KeyedFileHandle(0, "rocks-0", 0, 127, Seq.empty,
        KeyedFileHandle.RocksDbKind)))
    MetadataIO.write(dir, SavepointMeta(1L, dir, Seq(op)))
    Savepoints.load(dir)
  }

  test("read value-state KV pairs from a RocksDB checkpoint " +
    "(RocksDBCheckpointReadingTest.java:59-68)") {
    val meta = buildSavepoint()
    val r = Savepoints.reader(spark, meta, "rocky")
    assert(r.readValueStates[Int, Int]("Count").collect().toMap == Map(1 -> 2, 2 -> 1))
    assert(r.readValueStates[Int, Int]("Other").collect().toMap == Map(7 -> 70, 8 -> 80))
    assert(r.allKeyedStateRows.count() == 4)
  }

  test("column-family pushdown opens only matching states (S6 incremental path)") {
    val meta = buildSavepoint()
    // reader-level filter
    val rB = Savepoints.reader(spark, meta, "rocky", states = Set("Other"))
    assert(rB.allKeyedStateRows.collect().map(_.getString(0)).toSet == Set("Other"))
    // catalyst pushdown
    val df = Savepoints.reader(spark, meta, "rocky").allKeyedStateRows
      .filter(col("stateName") === "Count")
    assert(df.count() == 2)
    // direct CF-level check: keep=Some(Set("Count")) never touches Other
    val local = RocksDbCheckpoints.localize(s"${meta.basePath}/rocks-0")
    val scan = RocksDbCheckpoints.iterate(local.path, Some(Set("Count")))
    try assert(scan.map(_._1).toSet == Set("Count"))
    finally { scan.close(); local.close() }
  }

  test("rocksdb checkpoint state can be rewritten as a full savepoint (S4 -> S9)") {
    val meta = buildSavepoint()
    val dir2 = TempDirs.create("graft-rocks-out")
    val r = Savepoints.reader(spark, meta, "rocky")
    import spark.implicits._
    val doubled = r.readValueStates[Int, Int]("Count").map { case (k, v) => (k, v * 2) }
    val meta2 = Savepoints.writer(spark, meta, "rocky")
      .addValueState("Count", doubled)
      .addKeyedStateRows(r.getAllUnreadKeyedStateRows)
      .writeAll(dir2)
    val r2 = Savepoints.reader(spark, meta2, "rocky")
    assert(r2.readValueStates[Int, Int]("Count").collect().toMap == Map(1 -> 4, 2 -> 2))
    assert(r2.readValueStates[Int, Int]("Other").collect().toMap == Map(7 -> 70, 8 -> 80))
  }

  test("native RocksDB WRITE path (beyond reference): graft-dialect " +
    "savepoint with per-subtask checkpoint dirs roundtrips through S4") {
    import graft.core.codec.Codecs.LongCodec
    val values = (1L to 400L).map(k => (k, k * 13))
    val out = TempDirs.track(java.nio.file.Files.createTempDirectory("graft-rocks-native"))
    java.nio.file.Files.delete(out)
    val meta = Savepoints
      .writer(spark, Savepoints.bootstrap("native-op", 4, 128), "native-op")
      .withKeyCodec(LongCodec)
      .withNativeRocksDb()
      .createNewValueState("V", values.toDS(), LongCodec)
      .writeAll(out.toString)
    val op = meta.operator("native-op")
    assert(op.keyedFiles.nonEmpty)
    assert(op.keyedFiles.forall(_.kind == KeyedFileHandle.RocksDbKind))
    assert(op.keyedFiles.map(_.subtaskIndex).distinct.size === op.keyedFiles.size)
    // reload from disk: metadata carries the dirs; S4 scan decodes
    val got = Savepoints.reader(spark, Savepoints.load(meta.basePath), "native-op")
      .readValueStates[Long, Long]("V").collect().toMap
    assert(got === values.toMap)
  }

  test("TRUE incremental checkpoint write: unchanged SSTs are shared " +
    "with the base, only the delta materializes") {
    val root = TempDirs.track(java.nio.file.Files.createTempDirectory("graft-rocks-incr-spec"))
    val base = root.resolve("cp-1").toString
    def row(name: String, k: Int, v: Int): KeyedStateRow =
      StateRowEncoder.valueRow(name, k, v, IntCodec, IntCodec, 128)
    val baseRows = (1 to 500).map(k => row("Count", k, k * 3)) ++
      (1 to 100).map(k => row("Other", k, k * 11))
    RocksDbCheckpoints.createCheckpoint(base,
      baseRows.map(r => (r.stateName, r.keyAndNamespaceBytes, r.valueBytes)))

    // delta: 3 upserts + 2 deletes on Count; Other untouched
    def kb(k: Int) = row("Count", k, 0).keyAndNamespaceBytes
    def vb(k: Int, v: Int) = row("Count", k, v).valueBytes
    val cp2 = root.resolve("cp-2").toString
    val r2 = RocksDbCheckpoints.createIncrementalCheckpoint(cp2, base,
      Iterator[(String, Array[Byte], Option[Array[Byte]])](
        ("Count", kb(1), Some(vb(1, 1000))),
        ("Count", kb(2), Some(vb(2, 2000))),
        ("Count", kb(501), Some(vb(501, 5010))),
        ("Count", kb(3), None),
        ("Count", kb(4), None)))
    // base SSTs (Count + Other) shared, not re-materialized
    assert(r2.shared.nonEmpty, "expected the base's SSTs to be shared")
    assert(r2.shared.forall(_.endsWith(".sst")))
    val physical = java.nio.file.Files.list(java.nio.file.Paths.get(cp2))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(r2.shared.forall(n => !physical.contains(n)),
      "shared SSTs must not be physically present in the stub")
    assert(physical.contains(RocksDbCheckpoints.ManifestName))

    // merged read: upserts applied, deletes gone, Other intact
    val local2 = RocksDbCheckpoints.localize(cp2)
    val scan2 = RocksDbCheckpoints.iterate(local2.path, None)
    val got2 =
      try scan2.map { case (s, k, v) => (s, k.toSeq) -> v.toSeq }.toMap
      finally { scan2.close(); local2.close() }
    assert(got2(("Count", kb(1).toSeq)) == vb(1, 1000).toSeq)
    assert(got2(("Count", kb(501).toSeq)) == vb(501, 5010).toSeq)
    assert(!got2.contains(("Count", kb(3).toSeq)))
    assert(!got2.contains(("Count", kb(4).toSeq)))
    assert(got2.count(_._1._1 == "Count") == 499) // 500 + 1 new - 2 deleted
    assert(got2.count(_._1._1 == "Other") == 100)

    // chained increment on the STUB: manifest flattening — every shared
    // uri must point at a materialized file, never at the intermediate
    // stub's manifest entry
    val cp3 = root.resolve("cp-3").toString
    val r3 = RocksDbCheckpoints.createIncrementalCheckpoint(cp3, cp2,
      Iterator(("Count", kb(5), Option(vb(5, 5000)))))
    assert(r3.shared.size >= r2.shared.size,
      "cp-2's delta SST should now be shareable too")
    val conf = new org.apache.hadoop.conf.Configuration()
    val mf = new org.apache.hadoop.fs.Path(cp3, RocksDbCheckpoints.ManifestName)
    val in = mf.getFileSystem(conf).open(mf)
    val entries =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
      finally in.close()
    entries.filter(_.nonEmpty).foreach { line =>
      val Array(name, uri) = line.split("\t", 2)
      val p = new org.apache.hadoop.fs.Path(uri)
      assert(p.getFileSystem(conf).exists(p), s"dangling shared ref $name -> $uri")
      assert(!uri.contains("cp-3"))
    }

    // and the S4 savepoint reader consumes the stub transparently
    val spDir = root.resolve("sp").toString
    val op = OperatorStateMeta("rocky-inc", Identifiers.operatorId("rocky-inc"),
      parallelism = 1, maxParallelism = 128, keyCodecId = Some("int"),
      states = Seq(
        StateMeta("Count", StateKind.Value, "int"),
        StateMeta("Other", StateKind.Value, "int")),
      compression = false,
      keyedFiles = Seq(KeyedFileHandle(0, cp3, 0, 127, Seq.empty,
        KeyedFileHandle.RocksDbKind)))
    MetadataIO.write(spDir, SavepointMeta(1L, spDir, Seq(op)))
    val r = Savepoints.reader(spark, Savepoints.load(spDir), "rocky-inc")
    val counts = r.readValueStates[Int, Int]("Count").collect().toMap
    assert(counts(1) == 1000 && counts(2) == 2000 &&
      counts(5) == 5000 && counts(501) == 5010)
    assert(!counts.contains(3) && !counts.contains(4))
    assert(counts.size == 499) // 500 base - 2 deleted + 1 new (5 was an overwrite)
  }

  test("incrementalUpdate applies a row delta without rewriting " +
    "unchanged subtasks or unchanged SSTs") {
    import graft.core.codec.Codecs.LongCodec
    import graft.state.{StateMaintenance, StateRowEncoder}
    val par = 4; val maxPar = 128
    val values = (1L to 400L).map(k => (k, k * 13))
    val out1 = TempDirs.track(java.nio.file.Files.createTempDirectory("graft-incr-base"))
    java.nio.file.Files.delete(out1)
    val meta1 = Savepoints
      .writer(spark, Savepoints.bootstrap("incr-op", par, maxPar), "incr-op")
      .withKeyCodec(LongCodec)
      .withNativeRocksDb()
      .createNewValueState("V", values.toDS(), LongCodec)
      .writeAll(out1.toString)

    // delta: upsert two keys, delete one — keys chosen so at least one
    // subtask receives nothing and must keep its handle verbatim
    def row(k: Long, v: Long) =
      StateRowEncoder.valueRow("V", k, v, LongCodec, LongCodec, maxPar)
    val ups = Seq(row(1L, 999L), row(401L, 777L)).toDS()
    val dels = Seq(row(2L, 0L)).toDS()
    val touchedSubs = Seq(1L, 401L, 2L)
      .map(k => KeyedStateRow("V", row(k, 0).keyAndNamespaceBytes, Array.emptyByteArray)
        .operatorIndex(maxPar, par)).toSet
    assert(touchedSubs.size < par, "test premise: some subtask untouched")

    val out2 = TempDirs.track(java.nio.file.Files.createTempDirectory("graft-incr-upd"))
    java.nio.file.Files.delete(out2)
    val meta2 = StateMaintenance.incrementalUpdate(
      spark, meta1, "incr-op", ups, dels, out2.toString)

    val op2 = meta2.operator("incr-op")
    assert(op2.keyedFiles.size == par)
    // untouched subtasks: original handle into the BASE savepoint dir
    op2.keyedFiles.filterNot(f => touchedSubs(f.subtaskIndex)).foreach { f =>
      assert(f.relativePath.contains(out1.getFileName.toString),
        s"untouched subtask ${f.subtaskIndex} was rewritten: ${f.relativePath}")
    }
    // touched subtasks: stub in the new dir, sharing the base's SSTs
    op2.keyedFiles.filter(f => touchedSubs(f.subtaskIndex)).foreach { f =>
      assert(!new org.apache.hadoop.fs.Path(f.relativePath).isAbsolute)
      val stub = java.nio.file.Paths.get(out2.toString, f.relativePath)
      assert(java.nio.file.Files.exists(
        stub.resolve(RocksDbCheckpoints.ManifestName)),
        s"touched subtask ${f.subtaskIndex} has no shared-file manifest")
    }
    // merged read through the reloaded metadata
    val got = Savepoints.reader(spark, Savepoints.load(meta2.basePath), "incr-op")
      .readValueStates[Long, Long]("V").collect().toMap
    assert(got(1L) == 999L && got(401L) == 777L)
    assert(!got.contains(2L))
    assert(got.size == 400) // 400 - 1 deleted + 1 new
    assert(got(100L) == 1300L) // untouched key passes through
  }

  test("native RocksDB write under the FLINK dialect emits a real " +
    "INCREMENTAL_KEY_GROUPS handle that the S4 reader consumes") {
    import graft.core.codec.Codecs
    val values = (1L to 300L).map(k => (s"u-$k", k * 7))
    val out = TempDirs.track(java.nio.file.Files.createTempDirectory("graft-rocks-flink"))
    java.nio.file.Files.delete(out)
    val meta = Savepoints
      .writer(spark, Savepoints.bootstrap("inc-w-op", 2, 128), "inc-w-op")
      .withDialect(Dialect.Flink)
      .withKeyCodec(Codecs.FlinkStringCodec)
      .withNativeRocksDb()
      .createNewValueState("V", values.toDS(), Codecs.LongCodec)
      .writeAll(out.toString)
    // the _metadata is a real Flink envelope; magic-sniff load resolves
    // codecs from the incremental handle's meta-state proxy
    val loaded = Savepoints.load(meta.basePath)
    val op = loaded.operator("inc-w-op")
    assert(op.keyCodecId === Some("flink-string"))
    assert(op.states.map(_.name) === Seq("V"))
    val got = Savepoints.reader(spark, loaded, "inc-w-op")
      .readValueStates[String, Long]("V").collect().toMap
    assert(got === values.toMap)
    // and the rescale path works FROM the incremental checkpoint: rows
    // re-shard into a plain stream savepoint without a pre-rewrite
    val out2 = TempDirs.track(java.nio.file.Files.createTempDirectory("graft-rocks-rescale"))
    java.nio.file.Files.delete(out2)
    val rows = Savepoints.reader(spark, loaded, "inc-w-op").getAllUnreadKeyedStateRows
    val meta2 = Savepoints.writer(spark, loaded, "inc-w-op")
      .addKeyedStateRows(rows)
      .withParallelism(8, 512)
      .writeAll(out2.toString)
    val got2 = Savepoints.reader(spark, Savepoints.load(meta2.basePath), "inc-w-op")
      .readValueStates[String, Long]("V").collect().toMap
    assert(got2 === values.toMap)
  }

  test("gcCheckpoint retires a base: manifest-referenced SSTs survive " +
    "in place, everything else is deleted, the stub still reads") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = TempDirs.track(JFiles.createTempDirectory("graft-gc-spec"))
    val base = root.resolve("cp-1").toString
    def row(name: String, k: Int, v: Int): KeyedStateRow =
      StateRowEncoder.valueRow(name, k, v, IntCodec, IntCodec, 128)
    RocksDbCheckpoints.createCheckpoint(base,
      (1 to 400).map(k => row("S", k, k * 7))
        .map(r => (r.stateName, r.keyAndNamespaceBytes, r.valueBytes)))
    def kb(k: Int) = row("S", k, 0).keyAndNamespaceBytes
    def vb(k: Int, v: Int) = row("S", k, v).valueBytes
    val cp2 = root.resolve("cp-2").toString
    RocksDbCheckpoints.createIncrementalCheckpoint(cp2, base,
      Iterator[(String, Array[Byte], Option[Array[Byte]])](
        ("S", kb(1), Some(vb(1, 999))), ("S", kb(2), None)))

    val referenced = RocksDbCheckpoints.referencedUris(Seq(cp2))
    assert(referenced.nonEmpty)
    val report = RocksDbCheckpoints.gcCheckpoint(base, referenced)
    // exactly the referenced files survive; RocksDB metadata files died
    assert(report.retained.toSet === referenced)
    assert(report.deleted.nonEmpty)
    assert(!report.deleted.exists(referenced), "deleted a referenced file")
    val left = JFiles.list(Paths.get(base)).iterator().asScala
      .map(_.toUri.toString).toSet
    assert(left === referenced.map(_.stripSuffix("/")),
      s"base dir should hold only shared files, has $left")
    // the surviving chain still reads, with the delta applied
    val loc = RocksDbCheckpoints.localize(cp2)
    try {
      val scan = RocksDbCheckpoints.iterate(loc.path, None)
      val got = try scan.map { case (n, k, v) => (n, k.toSeq, v.toSeq) }.toList
        finally scan.close()
      assert(got.size === 399) // 400 - 1 delete (+1 upsert replaces)
    } finally loc.close()
    // GC with NOTHING live deletes the whole dir
    val report2 = RocksDbCheckpoints.gcCheckpoint(cp2, Set.empty)
    assert(report2.retained.isEmpty)
    assert(!JFiles.exists(Paths.get(cp2)))
  }
}
