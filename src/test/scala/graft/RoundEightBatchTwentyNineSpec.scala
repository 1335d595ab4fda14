package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch-29 specs (sp35 savepoint relocation, q67 new-vs-
  * returning revenue split).
  */
class RoundEightBatchTwentyNineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // ------------------------------------------------------------ sp35

  test("a relocated savepoint reads identically from its new home and " +
    "the original's deletion does not break it (self-contained copy)") {
    val s = spark; import s.implicits._
    import graft.core.codec.Codecs.LongCodec
    import scala.jdk.CollectionConverters._
    val src0 = Seq((1L, 10L), (2L, 20L), (777L, 30L)).toDS()
    val dir1 = TempDirs.create("graft-reloc1")
    val meta1 = state.Savepoints
      .writer(s, state.Savepoints.bootstrap("rl-op", 2, 128), "rl-op")
      .withKeyCodec(LongCodec)
      .createNewValueState("S", src0, LongCodec)
      .writeAll(dir1)
    val src = java.nio.file.Paths.get(meta1.basePath)
    val dst = java.nio.file.Paths.get(TempDirs.create("graft-reloc2"))
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // destroy the ORIGINAL: the copy must be fully self-contained
    TempDirs.deleteNow(src)
    val back = state.Savepoints
      .reader(s, state.Savepoints.load(dst.toString), "rl-op")
      .readValueStates[Long, Long]("S").collect().toMap
    assert(back === Map(1L -> 10L, 2L -> 20L, 777L -> 30L))
  }

  // ------------------------------------------------------------- q67

  test("q67 cohorts reconcile: new customers per month sum to the " +
    "customer base, revenue conserves, and month one is all-new") {
    // month is TIMESTAMP_NTZ (driver encoding) — compare via ISO string
    val rows = run("q67_new_vs_returning").collect()
      .map(r => (String.valueOf(r.get(0)), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val o = Catalog.t(spark, sf, "orders")
    // every distinct customer is 'new' in exactly one month
    val newTotal = rows.filter(_._2 == "new").map(_._3).sum
    assert(newTotal === o.select("o_custkey").distinct().count())
    // order and cents totals conserve across the whole report
    assert(rows.map(_._4).sum === o.count())
    val cents = o.agg(
      sum(expr("cast(round(o_totalprice * 100) as bigint)")))
      .collect()(0).getLong(0)
    assert(rows.map(_._5).sum === cents)
    // the earliest month cannot contain a returning customer
    val firstMonth = rows.map(_._1).min
    assert(!rows.exists(r => r._1 == firstMonth && r._2 == "returning"))
  }
}
