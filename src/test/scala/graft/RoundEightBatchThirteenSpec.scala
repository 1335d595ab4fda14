package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch-13 specs (g08 modularity, q58 lateness profile). */
class RoundEightBatchThirteenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("modularity of two clean triangle communities is 0.25 + 0.25") {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "community")
    val got = graft.llm.GraphAlgs.modularity(labels, edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // per triangle: 2m=12, intra2=6, D=6 -> (12*6 - 36)/144 = 0.25
    assert(got(10L) === ((3L, 3L, 6L, 0.25)))
    assert(got(20L) === ((3L, 3L, 6L, 0.25)))
  }

  test("one community holding every edge scores exactly 0 — no better " +
    "than chance") {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val labels = Seq((1L, 7L), (2L, 7L)).toDF("id", "community")
    val r = graft.llm.GraphAlgs.modularity(labels, edges).collect().head
    assert(r.getDouble(4) === 0.0)
  }

  test("g08 on the real graph: contributions sum to a valid modularity " +
    "and LPA communities beat chance") {
    val rows = run("g08_modularity").collect()
    val q = rows.map(_.getDouble(4)).sum
    assert(q > 0.0 && q <= 1.0, s"Q = $q")
    // edge bookkeeping: intra edges never exceed total degree mass / 2
    rows.foreach { r =>
      assert(r.getLong(2) * 2 <= r.getLong(3),
        s"community ${r.getLong(0)}")
    }
  }

  test("q58 lateness profile matches a plain-Scala per-user running-max " +
    "recomputation") {
    val events = Catalog.t(spark, sf, "events")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lates = events.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.map { case ((_, _, ms), i) =>
        if (i == 0) 0L
        else math.max(0L, sorted.take(i).map(_._3).max - ms)
      }
    }.toSeq
    val total = lates.size.toLong
    val exp = lates.groupBy { late =>
      if (late == 0) -1
      else 63 - java.lang.Long.numberOfLeadingZeros(math.max(late / 1000, 1L))
    }.map { case (b, ls) =>
      b -> ((ls.size.toLong, ls.max, ls.size.toLong * 1000000L / total))
    }
    val got = run("q58_lateness_profile").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === exp)
    // the driver's synthetic stream is perfectly ordered: everything
    // lands in the on-time bucket (the fixture below drives the late
    // branches)
    assert(got.keySet === Set(-1))
  }

  test("q58 buckets out-of-order arrivals by power-of-2 lateness " +
    "(hand fixture with late rows)") {
    val s = spark; import s.implicits._
    val dir = TempDirs.create("graft-q58")
    // user 1 arrival order (event_id): t=10s, t=70s, t=69s (1s late,
    // bucket 0), t=5s (65s late, bucket 6: 64 <= 65 < 128)
    Seq((1L, 1L, 10000L), (2L, 1L, 70000L), (3L, 1L, 69000L),
        (4L, 1L, 5000L))
      .map { case (e, u, ms) => (e, u, new java.sql.Timestamp(ms)) }
      .toDF("event_id", "user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q58_lateness_profile")(spark, dir)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      -1 -> ((2L, 0L, 500000L)),
      0 -> ((1L, 1000L, 250000L)),
      6 -> ((1L, 65000L, 250000L))))
  }
}
