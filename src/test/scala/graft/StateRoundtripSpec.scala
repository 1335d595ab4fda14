package graft

import graft.core.codec._
import graft.core.codec.Codecs._
import graft.core.meta._
import graft.state._
import graft.state.OperatorStateWriter

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end savepoint roundtrips mirroring the reference's test
  * scenarios (SURVEY.md §5; reference tests cited per case). Fixtures are
  * produced by our own writer — format self-consistency is the contract
  * (FIXTURES.md §A).
  */
class StateRoundtripSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    TempDirs.create("graft-sp")

  private def encodeRow[K](key: K, value: Array[Byte], name: String,
      kc: Codec[K], maxPar: Int, mapKey: Array[Byte] = Array.empty): KeyedStateRow = {
    val kg = KeyGroups.assignToKeyGroup(key, maxPar)
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, kg, maxPar)
    kc.write(w, key)
    Codecs.VoidNamespaceCodec.write(w, ())
    w.writeRaw(mapKey)
    KeyedStateRow(name, w.toBytes, value)
  }

  test("bootstrap value state → scan → typed read (KeyedStateAddRemoveTest.java:50-94)") {
    val dir = tmp()
    val counts = spark.createDataset(Seq((1, 100), (2, 100)))
    val sp = Savepoints.bootstrap("counter", parallelism = 2, maxParallelism = 128)
    val meta = Savepoints.writer(spark, sp, "counter")
      .withKeyCodec(IntCodec)
      .createNewValueState("count", counts, IntCodec)
      .writeAll(dir)

    val reader = Savepoints.reader(spark, meta, "counter")
    val got = reader.readValueStates[Int, Int]("count").collect().toMap
    assert(got == Map(1 -> 100, 2 -> 100))
    // values-only projection (P2)
    assert(reader.readValueStateValues[Int]("count").collect().sorted.toSeq == Seq(100, 100))
  }

  test("canonical transform: read → join bootstrap → rewrite + new state + copy-through " +
    "(ValueStateTransformationTest.java:55-99)") {
    val dir1 = tmp(); val dir2 = tmp()
    // initial savepoint: Count={1->2, 2->1}, Other={5->50}
    val sp0 = Savepoints.bootstrap("hello", 2, 128)
    val meta1 = Savepoints.writer(spark, sp0, "hello")
      .withKeyCodec(IntCodec)
      .createNewValueState("Count", spark.createDataset(Seq((1, 2), (2, 1))), IntCodec)
      .createNewValueState("Other", spark.createDataset(Seq((5, 50))), IntCodec)
      .writeAll(dir1)

    // read Count, add bootstrap counts, write back ×2-style transform
    val reader = Savepoints.reader(spark, meta1, "hello")
    val count = reader.readValueStates[Int, Int]("Count")
    val toAdd = spark.createDataset(Seq((1, 100), (2, 1000)))
    val newCount = count.joinWith(toAdd, count("_1") === toAdd("_1"), "inner")
      .map { case ((k, v), (_, add)) => (k, v + add) }
    val meta2 = Savepoints.writer(spark, meta1, "hello")
      .addValueState("Count", newCount)
      .createNewValueState("Count2", newCount.map { case (k, v) => (k, v + 1) }, IntCodec)
      .addKeyedStateRows(reader.getAllUnreadKeyedStateRows) // copy-through F3/W4
      .writeAll(dir2)

    val r2 = Savepoints.reader(spark, meta2, "hello")
    assert(r2.readValueStates[Int, Int]("Count").collect().toMap == Map(1 -> 102, 2 -> 1001))
    assert(r2.readValueStates[Int, Int]("Count2").collect().toMap == Map(1 -> 103, 2 -> 1002))
    assert(r2.readValueStates[Int, Int]("Other").collect().toMap == Map(5 -> 50))
  }

  test("type change via createNewValueState (ValueStateTypeChangeTest.java:52-93)") {
    val dir1 = tmp(); val dir2 = tmp()
    val meta1 = Savepoints.writer(spark, Savepoints.bootstrap("hello", 2, 128), "hello")
      .withKeyCodec(IntCodec)
      .createNewValueState("sum", spark.createDataset(Seq((1, "3"), (3, "6"))), StringCodec)
      .writeAll(dir1)
    val asStrings = Savepoints.reader(spark, meta1, "hello")
      .readValueStates[Int, String]("sum")
    val meta2 = Savepoints.writer(spark, meta1, "hello")
      .createNewValueState("sum", asStrings.map { case (k, v) => (k, v.toInt) }, IntCodec)
      .writeAll(dir2)
    assert(Savepoints.reader(spark, meta2, "hello")
      .readValueStates[Int, Int]("sum").collect().toMap == Map(1 -> 3, 3 -> 6))
  }

  test("delete state drops rows on write (KeyedStateAddRemoveTest.java:87-88)") {
    val dir1 = tmp(); val dir2 = tmp()
    val meta1 = Savepoints.writer(spark, Savepoints.bootstrap("filter", 2, 128), "filter")
      .withKeyCodec(IntCodec)
      .createNewValueState("seen", spark.createDataset(Seq((1, true), (2, false))), BooleanCodec)
      .createNewValueState("keep", spark.createDataset(Seq((1, 7))), IntCodec)
      .writeAll(dir1)
    val r = Savepoints.reader(spark, meta1, "filter")
    val meta2 = Savepoints.writer(spark, meta1, "filter")
      .deleteKeyedState("seen")
      .addKeyedStateRows(r.allKeyedStateRows) // F4 RowFilter drops 'seen' rows
      .writeAll(dir2)
    val r2 = Savepoints.reader(spark, meta2, "filter")
    assert(r2.operator.states.map(_.name) == Seq("keep"))
    assert(r2.allKeyedStateRows.count() == 1)
    assert(r2.readValueStates[Int, Int]("keep").collect().toMap == Map(1 -> 7))
  }

  test("list state read: grouped and flattened (TtlStateTest list shape; P3/P4)") {
    val dir = tmp()
    val lc = ListCodec(IntCodec)
    val rows = Seq(
      encodeRow(1, lc.toBytes(List(1, 2, 1)), "List", IntCodec, 128),
      encodeRow(2, lc.toBytes(List(3)), "List", IntCodec, 128))
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("hello", 2, 128), "hello")
      .withKeyCodec(IntCodec)
      .defineState(StateMeta("List", StateKind.List, "list<int>"))
      .addKeyedStateRows(spark.createDataset(rows))
      .writeAll(dir)
    val r = Savepoints.reader(spark, meta, "hello")
    assert(r.readListStates[Int, Int]("List").collect().toMap ==
      Map(1 -> List(1, 2, 1), 2 -> List(3)))
    assert(r.readListStateValues[Int, Int]("List").collect().sorted.toSeq ==
      Seq((1, 1), (1, 1), (1, 2), (2, 3)))
  }

  test("map state read: entries and values (MapStateReadingTest.java:51-83)") {
    val dir = tmp()
    def mapRow(key: Int, mapKey: String, value: Int): KeyedStateRow = {
      val mk = new ByteWriter(); StringCodec.write(mk, mapKey)
      val vw = new ByteWriter(); vw.writeBoolean(false); IntCodec.write(vw, value)
      encodeRow(key, vw.toBytes, "Count", IntCodec, 128, mk.toBytes)
    }
    val rows = Seq(mapRow(1, "1", 2), mapRow(1, "2", 1), mapRow(2, "3", 1))
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("hello", 2, 128), "hello")
      .withKeyCodec(IntCodec)
      .defineState(StateMeta("Count", StateKind.Map, "int", Some("string")))
      .addKeyedStateRows(spark.createDataset(rows))
      .writeAll(dir)
    val r = Savepoints.reader(spark, meta, "hello")
    assert(r.readMapStates[Int, String, Int]("Count").collect().toSet ==
      Set((1, "1", 2), (1, "2", 1), (2, "3", 1)))
    assert(r.readMapStateValues[Int]("Count").collect().sorted.toSeq == Seq(1, 1, 2))
  }

  test("ttl states: readers skip timestamps; writes refused (TtlStateTest.java:57-115)") {
    val dir = tmp()
    def ttlValue(ts: Long, v: Int): Array[Byte] = {
      val w = new ByteWriter(); w.writeLong(ts); IntCodec.write(w, v); w.toBytes
    }
    val rows = Seq(
      encodeRow(1, ttlValue(111L, 1), "Val", IntCodec, 128),
      encodeRow(2, ttlValue(222L, 3), "Val", IntCodec, 128))
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("hello", 2, 128), "hello")
      .withKeyCodec(IntCodec)
      .defineState(StateMeta("Val", StateKind.Value, "ttl<int>"))
      .addKeyedStateRows(spark.createDataset(rows))
      .writeAll(dir)
    val r = Savepoints.reader(spark, meta, "hello")
    assert(r.readValueStates[Int, Int]("Val").collect().toMap == Map(1 -> 1, 2 -> 3))
    intercept[UnsupportedOperationException] {
      Savepoints.writer(spark, meta, "hello")
        .addValueState("Val", spark.createDataset(Seq((1, 9))))
    }
  }

  test("window state read (WindowStateReadingTest.java:31-63)") {
    val dir = tmp()
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("test-reducer", 2, 128), "test-reducer")
      .withKeyCodec(StringCodec)
      .createNewValueState(OperatorStateReader.WindowContents,
        spark.createDataset(Seq(("1", "1->1"), ("2", "2->3"))), StringCodec)
      .writeAll(dir)
    val r = Savepoints.reader(spark, meta, "test-reducer")
    assert(r.readWindowStates[String, String]().collect().toMap ==
      Map("1" -> "1->1", "2" -> "2->3"))
    assert(r.readWindowStateValues[String]().collect().sorted.toSeq == Seq("1->1", "2->3"))
  }

  test("broadcast (non-keyed) state transform " +
    "(BroadcastStateTransformationTest.java:57-117)") {
    val dir1 = tmp(); val dir2 = tmp()
    // bootstrap with broadcast state {true -> [1]} on both subtasks
    val meta1 = Savepoints.writer(spark, Savepoints.bootstrap("stateful", 2, 128), "stateful")
      .withKeyCodec(IntCodec)
      .createNewValueState("dummy", spark.createDataset(Seq((1, 1))), IntCodec)
      .transformNonKeyedState((_, b) =>
        BackendStates.withBroadcastState(b, "filteredKeys",
          Map(true -> List(1)))(BooleanCodec, ListCodec(IntCodec)))
      .writeAll(dir1)
    val loaded = Savepoints.load(dir1).operator("stateful")
    assert(BackendStates.broadcastState[Boolean, List[Int]](
      loaded.nonKeyed(0), "filteredKeys")(BooleanCodec, ListCodec(IntCodec)) ==
      Map(true -> List(1)))

    // transform: replace [1] with [2,3]
    val meta2 = Savepoints.writer(spark, meta1, "stateful")
      .transformNonKeyedState((_, b) =>
        BackendStates.withBroadcastState(b, "filteredKeys",
          Map(true -> List(2, 3)))(BooleanCodec, ListCodec(IntCodec)))
      .writeAll(dir2)
    val op2 = Savepoints.load(dir2).operator("stateful")
    (0 until 2).foreach { i =>
      assert(BackendStates.broadcastState[Boolean, List[Int]](
        op2.nonKeyed(i), "filteredKeys")(BooleanCodec, ListCodec(IntCodec)) ==
        Map(true -> List(2, 3)))
    }
    // keyed state carried through untouched (no rows added -> base files kept)
    assert(Savepoints.reader(spark, meta2, "stateful")
      .readValueStates[Int, Int]("dummy").collect().toMap == Map(1 -> 1))
  }

  test("state-name filter: option + pushdown prune (S6/F1/F2)") {
    val dir = tmp()
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("hello", 2, 128), "hello")
      .withKeyCodec(IntCodec)
      .createNewValueState("A", spark.createDataset(Seq((1, 10), (2, 20))), IntCodec)
      .createNewValueState("B", spark.createDataset(Seq((3, 30))), IntCodec)
      .writeAll(dir)
    val r = Savepoints.reader(spark, meta, "hello")
    // catalyst filter pushes into the source
    val filtered = r.allKeyedStateRows.filter(col("stateName") === "A")
    assert(filtered.count() == 2)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("flink-savepoint"), plan)
    // reader-level states option (F1)
    val rB = Savepoints.reader(spark, meta, "hello", states = Set("B"))
    assert(rB.allKeyedStateRows.collect().map(_.getString(0)).toSet == Set("B"))
    // F2 helper
    assert(r.getKeyedStateRows(Set("B")).count() == 1)
  }

  test("max-parallelism change reshards correctly (W9, README.md:44)") {
    val dir1 = tmp(); val dir2 = tmp()
    val data = (1 to 50).map(i => (i, i * 10))
    val meta1 = Savepoints.writer(spark, Savepoints.bootstrap("op", 2, 128), "op")
      .withKeyCodec(IntCodec)
      .createNewValueState("s", spark.createDataset(data), IntCodec)
      .writeAll(dir1)
    val kv = Savepoints.reader(spark, meta1, "op").readValueStates[Int, Int]("s")
    val meta2 = Savepoints.writer(spark, meta1, "op")
      .withParallelism(3, 4096)
      .createNewValueState("s", kv, IntCodec)
      .writeAll(dir2)
    val op2 = meta2.operator("op")
    assert(op2.maxParallelism == 4096 && op2.parallelism == 3)
    assert(Savepoints.reader(spark, meta2, "op")
      .readValueStates[Int, Int]("s").collect().toMap == data.toMap)
    // every row landed in its subtask's key-group range
    meta2.operator("op").keyedFiles.foreach { f =>
      val (s, e) = KeyGroups.keyGroupRange(4096, 3, f.subtaskIndex)
      assert(f.kgStart == s && f.kgEnd == e)
    }
  }

  test("tuple2-keyed state roundtrip (composite keys; Tuple codec parity " +
    "with OperatorStateReader.java:110-119)") {
    val dir = tmp()
    val kc = Tuple2Codec(IntCodec, StringCodec)
    val data = Seq(((1, "a"), 10L), ((2, "b"), 20L), ((1, "c"), 30L))
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("tup", 2, 128), "tup")
      .withKeyCodec(kc)
      .createNewValueState("v", spark.createDataset(data), LongCodec)
      .writeAll(dir)
    assert(Savepoints.reader(spark, meta, "tup")
      .readValueStates[(Int, String), Long]("v", keyCodec = kc).collect().toMap ==
      data.toMap)
  }

  test("multi-operator savepoint: untouched operators carry through by absolute path (W8)") {
    val dir1 = tmp(); val dir2 = tmp()
    // one savepoint, two operators
    val sp0 = SavepointMeta(0L, "", Seq(
      Savepoints.bootstrap("opA", 2, 128).operators.head,
      Savepoints.bootstrap("opB", 2, 128).operators.head))
    val meta1a = Savepoints.writer(spark, sp0, "opA")
      .withKeyCodec(IntCodec)
      .createNewValueState("a", spark.createDataset(Seq((1, 10))), IntCodec)
      .writeAll(dir1)
    // opB written into the same savepoint dir is not possible twice
    // (NO_OVERWRITE) — write opB into a second savepoint derived from it
    val dir1b = tmp()
    val meta1 = Savepoints.writer(spark, meta1a, "opB")
      .withKeyCodec(IntCodec)
      .createNewValueState("b", spark.createDataset(Seq((2, 20))), IntCodec)
      .writeAll(dir1b)
    // now transform only opA; opB's files stay in dir1b via absolute path
    val state = Savepoints.reader(spark, meta1, "opA").readValueStates[Int, Int]("a")
    val meta2 = Savepoints.writer(spark, meta1, "opA")
      .addValueState("a", state.map { case (k, v) => (k, v + 1) })
      .writeAll(dir2)
    assert(Savepoints.reader(spark, meta2, "opA")
      .readValueStates[Int, Int]("a").collect().toMap == Map(1 -> 11))
    assert(Savepoints.reader(spark, meta2, "opB")
      .readValueStates[Int, Int]("b").collect().toMap == Map(2 -> 20))
    // reloading from disk (not just the returned meta) also resolves
    assert(Savepoints.reader(spark, Savepoints.load(dir2), "opB")
      .readValueStates[Int, Int]("b").collect().toMap == Map(2 -> 20))
  }

  test("metadata-only state mutation without rows is rejected (stale stateId guard)") {
    val dir1 = tmp()
    val meta1 = Savepoints.writer(spark, Savepoints.bootstrap("g", 2, 128), "g")
      .withKeyCodec(IntCodec)
      .createNewValueState("A", spark.createDataset(Seq((1, 1))), IntCodec)
      .createNewValueState("B", spark.createDataset(Seq((2, 2))), IntCodec)
      .writeAll(dir1)
    // deleting A re-numbers B's positional state id; reusing the old
    // files would silently misattribute rows -> must demand rows
    val e = intercept[IllegalArgumentException] {
      Savepoints.writer(spark, meta1, "g").deleteKeyedState("A").writeAll(tmp())
    }
    assert(e.getMessage.contains("no rows were supplied"))
  }

  test("raw copy-through rows survive a max-parallelism change (re-shard by key decode)") {
    val dir1 = tmp(); val dir2 = tmp()
    val data = (1 to 30).map(i => (i, i * 7))
    val meta1 = Savepoints.writer(spark, Savepoints.bootstrap("rs", 2, 128), "rs")
      .withKeyCodec(IntCodec)
      .createNewValueState("s", spark.createDataset(data), IntCodec)
      .writeAll(dir1)
    val raw = Savepoints.reader(spark, meta1, "rs").allKeyedStateRows
    val meta2 = Savepoints.writer(spark, meta1, "rs")
      .withParallelism(2, 256) // 1-byte -> 2-byte prefixes
      .addKeyedStateRows(raw)
      .writeAll(dir2)
    assert(Savepoints.reader(spark, meta2, "rs")
      .readValueStates[Int, Int]("s").collect().toMap == data.toMap)
  }

  test("non-keyed state redistributes across a parallelism change") {
    import graft.core.meta.{ListStateMode, OperatorBackendState}
    val nk = Map(
      0 -> OperatorBackendState(
        listStates = Map(
          "u" -> (ListStateMode.Union, Seq(Array[Byte](1))),
          "s" -> (ListStateMode.SplitDistribute, Seq(Array[Byte](10), Array[Byte](11)))),
        broadcastStates = Map("bc" -> Seq((Array[Byte](0), Array[Byte](9))))),
      1 -> OperatorBackendState(
        listStates = Map(
          "u" -> (ListStateMode.Union, Seq(Array[Byte](2))),
          "s" -> (ListStateMode.SplitDistribute, Seq(Array[Byte](12)))),
        broadcastStates = Map("bc" -> Seq((Array[Byte](0), Array[Byte](9))))))
    val r = OperatorStateWriter.redistributeNonKeyed(nk, 3)
    assert(r.keySet == Set(0, 1, 2))
    // union entries gathered (placement free; all on subtask 0)
    assert(r(0).listStates("u")._2.map(_.head).sorted == Seq(1, 2))
    // split entries dealt round-robin, none lost
    val dealt = r.values.flatMap(_.listStates.get("s").toSeq.flatMap(_._2)).map(_.head)
    assert(dealt.toSeq.sorted == Seq(10, 11, 12))
    // broadcast copied everywhere
    (0 until 3).foreach(i => assert(r(i).broadcastStates("bc").head._2.head == 9))
  }

  test("column pruning: value-only projection reaches the source (SURVEY §4)") {
    val dir = tmp()
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("pr", 2, 128), "pr")
      .withKeyCodec(IntCodec)
      .createNewValueState("s", spark.createDataset(Seq((1, "a"), (2, "bb"))), StringCodec)
      .writeAll(dir)
    val r = Savepoints.reader(spark, meta, "pr")
    // P2 values decode correctly through the pruned scan
    assert(r.readValueStateValues[String]("s").collect().sorted.toSeq == Seq("a", "bb"))
    // the physical scan's read schema is pruned to the single column
    val pruned = r.allKeyedStateRows.select("valueBytes")
    val scans = pruned.queryExecution.executedPlan.collectLeaves()
    assert(scans.exists(_.schema.fieldNames.sameElements(Array("valueBytes"))),
      pruned.queryExecution.executedPlan.toString)
  }

  test("high-parallelism savepoint: 8 subtasks x 1024 key-groups, 5k keys") {
    val dir = tmp()
    val data = (1 to 5000).map(i => (i, i.toLong))
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("big", 8, 1024), "big")
      .withKeyCodec(IntCodec)
      .createNewValueState("v", spark.createDataset(data), LongCodec)
      .writeAll(dir)
    val op = meta.operator("big")
    assert(op.keyedFiles.map(_.subtaskIndex).sorted == (0 until 8))
    op.keyedFiles.foreach { f =>
      assert(f.offsets.length == f.kgEnd - f.kgStart + 1)
      assert(f.offsets.head == 0L)
    }
    val r = Savepoints.reader(spark, meta, "big")
    assert(r.readValueStates[Int, Long]("v").collect().toMap == data.toMap)
    // per-key-group splits agree: a split target below the smallest
    // segment gives every key group its own partition
    TestSpark.withMaxPartitionBytes(1L) {
      val fine = spark.read.format("flink-savepoint")
        .option("uid", "big").load(dir)
      assert(fine.rdd.getNumPartitions == 1024 && fine.count() == 5000)
    }
  }

  test("per-key-group splits read the same data (README.md:71 finer splits)") {
    val dir = tmp()
    val data = (1 to 40).map(i => (i, i.toString))
    val meta = Savepoints.writer(spark, Savepoints.bootstrap("op", 2, 128), "op")
      .withKeyCodec(IntCodec)
      .createNewValueState("s", spark.createDataset(data), StringCodec)
      .writeAll(dir)
    TestSpark.withMaxPartitionBytes(1L) {
      val df = spark.read.format("flink-savepoint")
        .option("uid", "op").load(meta.basePath)
      assert(df.rdd.getNumPartitions == 128) // one partition per key-group
      assert(df.count() == 40)
    }
  }
}
