package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.Materialize.SessionMemo

/** [[Materialize]]: a scope releases every cache it took on return, on
  * throw and per nested scope, an early release frees only its own
  * cache, and a [[SessionMemo]] builds once per (session, dir).
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A plan no other suite caches (the cache manager matches plans). */
  private def frame(k: Int): DataFrame =
    spark.range(10 + k).selectExpr(s"id * ${1000003 + k} AS materialize_$k")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a scope releases its caches when the body returns") {
    val (a, b) = Materialize.scoped { m =>
      val a = m.cache(frame(1))
      val b = m.cache(frame(2))
      assert(cached(a) && cached(b))
      assert(a.count() === 11)
      (a, b)
    }
    assert(!cached(a) && !cached(b))
  }

  test("a scope releases its caches when the body throws") {
    var a: DataFrame = null
    intercept[IllegalStateException] {
      Materialize.scoped { m =>
        a = m.cache(frame(3))
        a.count()
        throw new IllegalStateException("round failed")
      }
    }
    assert(!cached(a))
  }

  test("a nested scope releases only its own caches") {
    Materialize.scoped { outer =>
      val a = outer.cache(frame(4))
      val b = Materialize.scoped { inner =>
        val b = inner.cache(frame(5))
        assert(cached(a) && cached(b))
        b
      }
      assert(cached(a) && !cached(b))
    }
    assert(!cached(frame(4)))
  }

  test("an early release frees only that cache") {
    Materialize.scoped { m =>
      val a = m.cache(frame(6))
      val b = m.cache(frame(7))
      m.release(a)
      assert(!cached(a) && cached(b))
    }
    assert(!cached(frame(7)))
  }

  test("a session memo builds once per (session, dir) and rebuilds for a " +
    "new session") {
    val memo = new SessionMemo[Int]
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession, d: String): Int =
      memo(s, d) { builds += 1; builds }
    assert(get(spark, "a") === 1)
    assert(get(spark, "a") === 1)
    assert(get(spark, "b") === 2)
    val other = spark.newSession()
    assert(get(other, "a") === 3)
    assert(get(other, "a") === 3)
    assert(get(spark, "a") === 4)
  }

  test("d22 lshTuning leaves no cached signature behind") {
    // a library call releases what it caches: once the caller has
    // consumed the result, no cache entry and no stored block from the
    // call remains, without the caller running clearCache
    spark.catalog.clearCache() // baseline: what earlier suites left
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    val report = graft.llm.Dedup.lshTuning(Catalog.t(spark, sf, "documents"))
    assert(report.collect().length === 3)
    assert(spark.sharedState.cacheManager.isEmpty,
      "lshTuning left a cache entry")
    assert((stored -- before).isEmpty,
      s"lshTuning left stored blocks: ${stored -- before}")
  }
}
