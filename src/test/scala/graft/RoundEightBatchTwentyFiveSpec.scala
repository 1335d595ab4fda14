package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch-25 specs (sp34 operator rename, q64 conversion-time
  * profile, p24 post-dedup mix card).
  */
class RoundEightBatchTwentyFiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // ------------------------------------------------------------ sp34

  test("operator rename is metadata-only: the renamed savepoint reads " +
    "the ORIGINAL files and the old uid is gone") {
    val s = spark; import s.implicits._
    import graft.core.codec.Codecs.LongCodec
    import graft.core.meta.{Identifiers, MetadataIO}
    val src = Seq((1L, 10L), (2L, 20L)).toDS()
    val dir1 = TempDirs.create("graft-ren1")
    val meta1 = state.Savepoints
      .writer(s, state.Savepoints.bootstrap("spec-old", 2, 128), "spec-old")
      .withKeyCodec(LongCodec)
      .createNewValueState("S", src, LongCodec)
      .writeAll(dir1)
    val loaded = state.Savepoints.load(meta1.basePath)
    val renamed = loaded.copy(operators = loaded.operators.map(o =>
      o.copy(uid = "spec-new", operatorId = Identifiers.operatorId("spec-new"),
        keyedFiles = o.keyedFiles.map(loaded.absolutized))))
    val dir2 = TempDirs.create("graft-ren2")
    MetadataIO.write(dir2, renamed)
    val re = state.Savepoints.load(dir2)
    val back = state.Savepoints.reader(s, re, "spec-new")
      .readValueStates[Long, Long]("S").collect().toMap
    assert(back === Map(1L -> 10L, 2L -> 20L))
    // the new uid resolves; the old one must NOT
    intercept[Exception] { re.operator("spec-old") }
    // no state bytes were copied: dir2 holds only the metadata (and
    // its checksum sidecar)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir2))
      .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    assert(files === Seq("._metadata.crc", "_metadata"), files.toString)
  }

  // ------------------------------------------------------------- q64

  test("q64 conversion times agree with q59's conversion counts and " +
    "the median is a real observed value inside [0, max]") {
    val rows = run("q64_conversion_time").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val q59 = run("q59_attribution").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // q64 counts CONVERTING sessions per entry type = q59's n_converted
    assert(rows.keySet === q59.filter(_._2 > 0).keySet)
    rows.foreach { case (et, (n, med, mx)) =>
      assert(n === q59(et))
      assert(med >= 0 && med <= mx)
    }
    // a purchase-entry session converts at time 0 -> median 0 only if
    // most purchase-entry sessions start with the purchase; at minimum
    // the purchase channel's median is <= every other channel's max
    assert(rows.contains("purchase"))
  }

  test("q64 on a hand-built log computes the exact rank-pick median") {
    val s = spark; import s.implicits._
    // three converting 'view'-entry sessions with ttc 10s, 20s, 30s ->
    // median 20s; one non-converting session is excluded
    val rows = Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "purchase", 10000L),
      (3L, 2L, "view", 0L), (4L, 2L, "purchase", 20000L),
      (5L, 3L, "view", 0L), (6L, 3L, "purchase", 30000L),
      (7L, 4L, "view", 0L), (8L, 4L, "click", 1000L))
      .toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
      .select("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val dir = TempDirs.create("graft-q64-fix")
    rows.coalesce(1).write.mode("overwrite")
      .parquet(java.nio.file.Paths.get(dir, "events.parquet").toString)
    val got = SparkEntry.queries("q64_conversion_time")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map("view" -> ((3L, 20000L, 30000L))))
  }

  // ------------------------------------------------------------- p24

  test("p24 reconciles with d09: kept docs sum to the keep-list size " +
    "and the share column sums to one") {
    val rows = run("p24_post_dedup_mix").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val keepN = run("d09_dedup_keep_best").count()
    assert(rows.map(_._4).sum === keepN)
    assert(rows.map(_._3).sum ===
      Catalog.t(spark, sf, "documents").count())
    rows.foreach { case (_, _, raw, kept, toks, share, dup) =>
      // kept may be 0: a stratum whose only docs lose their dup groups
      // to winners in OTHER strata contributes nothing post-dedup
      assert(kept <= raw)
      assert(toks >= kept) // every kept doc has at least one token
      assert(share >= 0 && share <= 1000000L)
      assert(dup === (raw - kept) * 1000000L / raw)
    }
    // floor-rounded shares sum to 1e6 within the stratum count
    val mass = rows.map(_._6).sum
    assert(mass <= 1000000L && mass > 1000000L - rows.length)
  }
}
