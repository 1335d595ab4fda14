package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch-11 specs (j05 / c06 / m08 / d21): hand fixtures where
  * the expected value is derivable on paper, plain-Scala recomputation
  * over the collected sf0.001 tables otherwise.
  */
class RoundEightBatchElevenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // ---------------------------------------------- j05 nearest as-of

  test("j05 nearest-direction as-of matches a plain-Scala nearest pick " +
    "with backward ties") {
    val reps = Catalog.t(spark, sf, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("k"))
      .withColumn("ms", expr("unix_millis(cast(o_orderdate as timestamp))"))
      .select(col("o_custkey"), col("ms"), col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val events = Catalog.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = events.map { case (eid, uid, ts) =>
      val cand = reps.getOrElse(uid, Array.empty[(Long, Long, Long)])
      val back = cand.filter(_._2 <= ts).sortBy(_._2).lastOption
      val fwd = cand.filter(_._2 >= ts).sortBy(_._2).headOption
      val pick = (back, fwd) match {
        case (Some(b), Some(f)) =>
          if (ts - b._2 <= f._2 - ts) Some((b, "back")) else Some((f, "fwd"))
        case (Some(b), None) => Some((b, "back"))
        case (None, Some(f)) => Some((f, "fwd"))
        case _ => None
      }
      eid -> pick.map { case ((_, ms, k), dir) => (k, ms, dir) }
    }.toMap
    val got = run("j05_asof_nearest").collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(4), r.getString(5))))
    }.toMap
    assert(got === exp)
    // driver data is all-backward (orders predate events); the fixture
    // test below exercises the forward / tie / no-match branches
    assert(got.values.flatten.map(_._3).toSet === Set("back"))
  }

  test("j05 picks forward when nearer, backward on exact ties, null " +
    "with no candidates (hand fixture tables)") {
    val s = spark; import s.implicits._
    val dir = TempDirs.create("graft-j05")
    Seq((7L, new java.sql.Timestamp(1000L), 100L),
        (7L, new java.sql.Timestamp(100000L), 101L))
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 7L, new java.sql.Timestamp(2000L)),
        (2L, 7L, new java.sql.Timestamp(99000L)),
        (3L, 7L, new java.sql.Timestamp(1000L)),
        (4L, 8L, new java.sql.Timestamp(5000L)))
      .toDF("event_id", "user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("j05_asof_nearest")(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getString(5))))).toMap
    assert(got(1L) === Some((100L, "back")))   // 1000ms closer than 98s
    assert(got(2L) === Some((101L, "fwd")))    // forward is 1s away
    assert(got(3L) === Some((100L, "back")))   // distance-0 tie -> back
    assert(got(4L) === None)                   // user with no orders
  }

  // ---------------------------------------------- c06 bisecting split

  test("bisectLargest splits the largest cluster around the min-id seed " +
    "and its least-similar member") {
    val s = spark; import s.implicits._
    // cluster 0 (x-axis) has 4 members, cluster 1 (y-axis) has 2 —
    // cluster 0 splits. Seed A = vec 1 (min id in cluster 0); the
    // least-cosine-to-A member is vec 4 (0.6, 0.8); members 1, 2 stay
    // with A, members 3, 4 go to B (cos to (0.6, 0.8) is higher).
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.8f, 0.6f)), (4L, Seq(0.6f, 0.8f)),
      (10L, Seq(0.0f, 1.0f)), (11L, Seq(0.01f, 0.99f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    // centroids chosen so vecs 3/4 still assign to the x cell (cos to
    // (1,0) of (0.6,0.8) = 0.6 < 0.8 — no; use a mid centroid)
    val cents = Seq((0L, Seq(0.9f, 0.4f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("cid", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = graft.llm.Clustering.bisectLargest(
        vecs, cents.select(col("cid"), col("embedding")))
      .collect()
    assert(out.forall(_.getLong(0) === 0L), "parent must be the big cell")
    val members = out.groupBy(_.getLong(1)).map { case (sub, rows) =>
      sub -> rows.map(_.getLong(3)).distinct.toList
    }
    assert(members(0L) === List(2L), s"child 0 size: $members")
    assert(members(1L) === List(2L), s"child 1 size: $members")
    // child 0's mean must be the x-heavy pair (1, 2): dim-0 mean_fx of
    // (1.0 + 0.99) / 2 = 0.995 -> 9950000
    val d0 = out.find(r => r.getLong(1) == 0L && r.getLong(2) == 0L).get
    assert(d0.getLong(4) === 9950000L)
  }

  test("c06 children partition the parent cluster on the real table") {
    val sizes = run("c06_bisect_split").collect()
      .filter(_.getLong(2) == 0L) // one dim is enough
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(sizes.keySet === Set(0L, 1L))
    assert(sizes.values.forall(_ > 0))
  }

  // ---------------------------------------------- m08 modality mix

  test("m08 modality mix matches a plain-Scala recomputation from the " +
    "stub codec arithmetic") {
    val docs = Catalog.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val formats = Array("png", "jpeg", "wav", "mp4")
    val rows = docs.map { case (id, text) =>
      val fmt = formats((id % 4).toInt)
      val bytes = text.getBytes("UTF-8").length.toLong
      val frames = if (fmt == "mp4") 1 + bytes / 100 else 1L
      (fmt, bytes, frames)
    }
    val tb = rows.map(_._2).sum
    val exp = rows.groupBy(_._1).map { case (fmt, rs) =>
      val b = rs.map(_._2).sum
      fmt -> ((rs.length.toLong, b, b * 1000000L / tb, b / rs.length,
        rs.map(_._3).sum))
    }
    val got = run("m08_modality_mix").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === exp)
  }

  // ---------------------------------------------- d21 bag dedup

  test("bagDedup collapses token reorderings that exact dedup misses") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "c b a"), (3L, "a b c"),
      (4L, "x y"), (5L, "a a b c")) // duplicate token folds into the bag
      .toDF("doc_id", "text")
    val got = graft.llm.Dedup.bagDedup(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === 2)
    // the {a,b,c} bag holds docs 1,2,3,5 with 3 distinct byte forms
    val abc = got.values.find(_._2 == 1L).get
    assert(abc === ((4L, 1L, 3L)))
    val xy = got.values.find(_._2 == 4L).get
    assert(xy === ((1L, 4L, 1L)))
  }

  test("d21 on the real table: bags never split an exact-dup group") {
    // every d01 exact group lies inside one d21 bag, so bag count <=
    // exact-group count, and total docs agree
    val exact = run("d01_dedup_exact").agg(
      sum("n_copies"), count(lit(1))).head
    val bags = run("d21_bag_dedup").agg(
      sum("n_docs"), count(lit(1))).head
    assert(exact.getLong(0) === bags.getLong(0))
    assert(bags.getLong(1) <= exact.getLong(1))
  }
}
