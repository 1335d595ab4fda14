package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointStats.Actual
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.Materialize.SessionMemo

/** [[Materialize]]: a scope releases every cache it took on return, on
  * throw and per nested scope, and every pin its result does not read;
  * an early release frees only its own cache or pin; the session conf
  * makes pins reliable; a [[SessionMemo]] builds once per (session,
  * dir); and library code materializes nowhere else.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A plan no other suite caches (the cache manager matches plans). */
  private def frame(k: Int): DataFrame =
    spark.range(10 + k).selectExpr(s"id * ${1000003 + k} AS materialize_$k")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** RDD ids with stored blocks. */
  private def stored: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def pinStored(p: DataFrame): Boolean =
    stored.intersect(Materialize.rddIds(p)).nonEmpty

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

  test("an intermediate pin is released when the scope returns or throws") {
    var mid: DataFrame = null
    val n = Materialize.scoped { m =>
      mid = m.pin(frame(8), Actual)
      assert(pinStored(mid))
      mid.count()
    }
    assert(n === 18)
    assert(!pinStored(mid))
    intercept[IllegalStateException] {
      Materialize.scoped { m =>
        mid = m.pin(frame(9), Actual)
        assert(pinStored(mid))
        throw new IllegalStateException("round failed")
      }
    }
    assert(!pinStored(mid))
  }

  test("a pin the returned frame reads survives the scope and collects") {
    var mid: DataFrame = null
    val out = Materialize.scoped { m =>
      mid = m.pin(frame(10), Actual)
      m.pin(mid.selectExpr("materialize_10 + 1 AS x"), Actual).filter("x > 0")
    }
    assert(!pinStored(mid))
    assert(pinStored(out))
    assert(out.collect().length === 20)
  }

  test("the pins of a tuple result are kept") {
    val (a, b, n) = Materialize.scoped { m =>
      (m.pin(frame(11), Actual), m.pin(frame(12), Actual).limit(5), 3L)
    }
    assert(pinStored(a) && pinStored(b) && n === 3L)
    assert(a.count() === 21 && b.count() === 5)
  }

  test("a kept pin passes to the enclosing scope, which applies the rule") {
    var inner: DataFrame = null
    val total = Materialize.scoped { _ =>
      inner = Materialize.scoped(m => m.pin(frame(13), Actual))
      assert(pinStored(inner))
      inner.count()
    }
    assert(total === 23)
    assert(!pinStored(inner))
  }

  test("release drops exactly one pin") {
    Materialize.scoped { m =>
      val a = m.pin(frame(14), Actual)
      val b = m.pin(frame(15), Actual)
      m.release(a)
      assert(!pinStored(a) && pinStored(b))
      intercept[IllegalArgumentException](m.release(a))
    }
  }

  test("with the checkpoint-dir conf set, pin writes reliable checkpoint files") {
    TempDirs.scoped("graft-pin-ckpt") { dir =>
      val s2 = spark.newSession()
      s2.conf.set(Materialize.GraphCheckpointDirConf, dir.toString)
      val before = stored
      val n = Materialize.scoped { m =>
        val p = m.pin(s2.range(25).toDF("id"), Actual)
        assert((stored -- before).isEmpty, "a reliable pin stored executor blocks")
        p.count()
      }
      assert(n === 25)
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      assert(files > 0, "no reliable checkpoint files written")
    }
  }

  test("library code caches, pins and releases only through Materialize") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"no source tree under ${new java.io.File(".").getAbsolutePath}")
    val call = "localCheckpoint\\(|truncate\\(|\\.cache\\(\\)|unpersist\\(".r
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.filterNot(_.getName == "tools").flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = sources(root).filterNot(_.getName == "Materialize.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, s"materialization outside Materialize: ${hits.mkString(", ")}")
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
    val before = stored
    val report = graft.llm.Dedup.lshTuning(Catalog.t(spark, sf, "documents"))
    assert(report.collect().length === 3)
    assert(spark.sharedState.cacheManager.isEmpty,
      "lshTuning left a cache entry")
    assert((stored -- before).isEmpty,
      s"lshTuning left stored blocks: ${stored -- before}")
  }
}
