package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch-12 specs (q57 / d22 / i10): plain-Scala recomputation
  * references plus structural invariants (the LSH band-nesting law).
  */
class RoundEightBatchTwelveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // ------------------------------------------ q57 continuous percentiles

  test("q57 interpolated quartiles match a plain-Scala PERCENTILE_CONT " +
    "in exact hundredth arithmetic") {
    val rows = Catalog.t(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        expr("cast(round(l_quantity * 100) as bigint)").as("q100"),
        col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val exp = rows.groupBy(_._1).flatMap { case (flag, rs) =>
      val v = rs.sortBy(x => (x._2, x._3, x._4)).map(_._2)
      val n = v.length.toLong
      Seq(25, 50, 75).map { p =>
        val pos = (n - 1) * p
        val idx = (pos / 100).toInt
        val rem = pos % 100
        val lo = v(idx)
        val hi = v(math.min(idx + 1, v.length - 1))
        (flag, p) -> (lo * 100 + (hi - lo) * rem).toDouble / 10000.0
      }
    }
    val got = run("q57_percentile_cont").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got === exp)
  }

  // ------------------------------------------------- d22 LSH tuning

  test("d22 LSH sweep matches a plain-Scala simulation of the banding " +
    "S-curve and obeys the band-nesting law") {
    val P = 4294967291L
    def permA(j: Int): Long =
      ((1103515245L * (j + 1) + 12345L) % (1L << 30)) | 1L
    def permB(j: Int): Long = (69069L * (j + 7) + 1L) % P
    val docs = Catalog.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sigs: Map[Long, Array[Long]] = docs.flatMap { case (id, text) =>
      val w = text.split(" ", -1)
      val sh = (0 until math.max(w.length - 2, 0))
        .map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").distinct
      if (sh.isEmpty) None
      else {
        val hs = sh.map(graft.functions.PolyHash32.hash)
        Some(id -> Array.tabulate(16)(j =>
          hs.map(h => (permA(j) * h + permB(j)) % P).min))
      }
    }.toMap
    def simulate(nb: Int, r: Int): (Long, Long) = {
      val buckets = scala.collection.mutable.Map
        .empty[(Int, Seq[Long]), List[Long]]
      sigs.foreach { case (id, sg) =>
        (0 until nb).foreach { bi =>
          val key = (bi, (0 until r).map(k => sg(r * bi + k)))
          buckets(key) = id :: buckets.getOrElse(key, Nil)
        }
      }
      val cand = buckets.values.flatMap { ids =>
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      val dups = cand.count { case (a, b) =>
        val (x, y) = (sigs(a), sigs(b))
        (0 until 16).count(j => x(j) == y(j)) * 2 >= 16
      }
      (cand.size.toLong, dups.toLong)
    }
    val exp = Map("b2r8" -> simulate(2, 8), "b4r4" -> simulate(4, 4),
      "b8r2" -> simulate(8, 2))
    val got = run("d22_lsh_tuning").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === exp)
    // band nesting: an 8-row band match implies both nested 4-row band
    // matches, so candidate volume is monotone in band count
    assert(got("b2r8")._1 <= got("b4r4")._1)
    assert(got("b4r4")._1 <= got("b8r2")._1)
  }

  // ------------------------------------------------ i10 malformed audit

  test("i10 quarantines exactly the injected corrupt lines into the " +
    "NULL-lang bucket and loses no good rows") {
    val got = run("i10_malformed_audit").collect()
      .map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(None) === ((3L, 3L)))
    val perLang = Catalog.t(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(got(Some(lang)) === ((n, 0L)), s"lang $lang")
    }
    assert(got.size === perLang.size + 1)
  }
}
