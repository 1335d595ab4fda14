package graft

import graft.core.codec._
import graft.core.meta._
import graft.core.scan.StateStreamFormat
import graft.core.scan.StateStreamFormat.Record

import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream

class StateFormatSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(11)

  private def roundtrip(compression: Boolean): Unit = {
    val kgStart = 3; val kgEnd = 9
    val recs = (kgStart to kgEnd).flatMap { kg =>
      Seq.fill(rnd.nextInt(5))(
        (kg, Record(rnd.nextInt(3),
          Array.fill(rnd.nextInt(20) + 1)(rnd.nextInt().toByte),
          Array.fill(rnd.nextInt(30))(rnd.nextInt().toByte))))
    }.sortBy { case (kg, r) => (kg, r.stateId) }
    val out = new ByteArrayOutputStream()
    val offsets = StateStreamFormat.encode(out, recs.iterator, kgStart, kgEnd, compression)
    val bytes = out.toByteArray
    assert(offsets.length == kgEnd - kgStart + 1)
    assert(offsets.head == 0L)

    // decode each group at its offset and compare
    val decoded = (kgStart to kgEnd).flatMap { kg =>
      val off = offsets(kg - kgStart).toInt
      val end = if (kg < kgEnd) offsets(kg - kgStart + 1).toInt else bytes.length
      StateStreamFormat.decodeGroup(
        new java.io.ByteArrayInputStream(bytes, off, end - off),
        compression, _ => true).map(r => (kg, r)).toList
    }
    assert(decoded.size == recs.size)
    decoded.zip(recs).foreach { case ((dkg, dr), (kg, r)) =>
      assert(dkg == kg && dr.stateId == r.stateId)
      assert(dr.key.sameElements(r.key) && dr.value.sameElements(r.value))
    }
  }

  test("stream format roundtrip, uncompressed")(roundtrip(false))
  test("stream format roundtrip, snappy per key-group")(roundtrip(true))

  test("state-id pushdown skips filtered records (RocksDBSavepointIterator.java:178-191)") {
    val recs = Seq(
      (0, Record(0, Array[Byte](1), Array[Byte](10))),
      (0, Record(1, Array[Byte](2), Array[Byte](20))),
      (0, Record(2, Array[Byte](3), Array[Byte](30))))
    val out = new ByteArrayOutputStream()
    StateStreamFormat.encode(out, recs.iterator, 0, 0, compression = true)
    val got = StateStreamFormat.decodeGroup(
      new java.io.ByteArrayInputStream(out.toByteArray),
      compression = true, keep = _ == 1).toList
    assert(got.map(_.stateId) == List(1))
    assert(got.head.value.sameElements(Array[Byte](20)))
  }

  test("records outside the key-group range are rejected") {
    val out = new ByteArrayOutputStream()
    intercept[IllegalArgumentException] {
      StateStreamFormat.encode(out,
        Iterator((5, Record(0, Array[Byte](1), Array[Byte](1)))),
        0, 3, compression = false)
    }
  }
}

class MetadataIOSpec extends AnyFunSuite {

  private def sampleMeta(base: String) = SavepointMeta(7L, base, Seq(
    OperatorStateMeta(
      uid = "hello", operatorId = Identifiers.operatorId("hello"),
      parallelism = 2, maxParallelism = 128,
      keyCodecId = Some("int"),
      states = Seq(
        StateMeta("Count", StateKind.Value, "int"),
        StateMeta("Names", StateKind.List, "list<string>"),
        StateMeta("M", StateKind.Map, "ttl<long>", Some("string"))),
      compression = true,
      keyedFiles = Seq(KeyedFileHandle(0, "op-x/part-0-ab", 0, 63, Seq(0L, 10L, 25L)),
        KeyedFileHandle(1, "op-x/part-1-cd", 64, 127, Seq(0L))),
      nonKeyed = Map(0 -> OperatorBackendState(
        listStates = Map("buf" -> (ListStateMode.Union, Seq(Array[Byte](1, 2)))),
        broadcastStates = Map("bc" -> Seq((Array[Byte](1), Array[Byte](9)))))))))

  test("metadata write/load roundtrip") {
    val dir = TempDirs.create("graft-meta")
    val meta = sampleMeta(dir)
    MetadataIO.write(dir, meta)
    val loaded = MetadataIO.load(dir)
    assert(loaded.checkpointId == 7L)
    val op = loaded.operator("hello")
    assert(op.parallelism == 2 && op.maxParallelism == 128)
    assert(op.keyCodecId.contains("int"))
    assert(op.states.map(_.name) == Seq("Count", "Names", "M"))
    assert(op.stateMeta("M").ttl && op.stateMeta("M").mapKeyCodecId.contains("string"))
    assert(op.stateId("Names") == 1 && op.stateName(0) == "Count")
    assert(op.keyedFiles.map(_.offsets) == Seq(Seq(0L, 10L, 25L), Seq(0L)))
    val nk = op.nonKeyed(0)
    assert(nk.listStates("buf")._2.head.sameElements(Array[Byte](1, 2)))
    assert(nk.broadcastStates("bc").head._2.sameElements(Array[Byte](9)))
    // operator select by id too (reference S2)
    assert(loaded.operator(op.operatorId).uid == "hello")
    intercept[NoSuchElementException](loaded.operator("missing"))
  }

  test("metadata write is NO_OVERWRITE (StateMetadataUtils.java:189-194)") {
    val dir = TempDirs.create("graft-meta2")
    MetadataIO.write(dir, sampleMeta(dir))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      MetadataIO.write(dir, sampleMeta(dir))
    }
  }
}
