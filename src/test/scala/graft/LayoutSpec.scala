package graft

import org.apache.spark.sql.graftshim.CheckpointStats
import org.scalatest.funsuite.AnyFunSuite

/** [[Layout]]: the size-derived partition count, the spread of narrow
  * batch inputs, and that no other library code reads the session's
  * parallelism or counts splits.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withParallelism[A](p: Int)(body: => A): A =
    Catalog.withConfs(spark, "spark.sql.shuffle.partitions" -> p.toString)(body)

  test("partitions collapses a tiny relation to one partition and keeps " +
    "the session parallelism when the statistic is huge") {
    val tiny = spark.range(100).toDF("id").localCheckpoint(true)
    val tinyStats = CheckpointStats.truncate(spark.range(100).toDF("id"),
      reliable = false, CheckpointStats.Actual)
    withParallelism(32) {
      assert(Layout.partitions(tinyStats) === 1)
      // a parquet-less huge estimate: cross joins inflate sizeInBytes
      val big = tiny.crossJoin(tiny).crossJoin(tiny).crossJoin(tiny)
        .crossJoin(tiny)
      assert(Layout.partitions(big) === 32)
    }
    // clamp floor: even a zero/unknown size never returns < 1
    withParallelism(1)(assert(Layout.partitions(tinyStats) === 1))
  }

  test("the byte-count partitions rounds up per 32 MB, caps at the " +
    "parallelism and gives an unknown size the parallelism") {
    val mb = 1024L * 1024
    withParallelism(8) {
      assert(Layout.partitions(spark, 1) === 1)
      assert(Layout.partitions(spark, 32 * mb) === 1)
      assert(Layout.partitions(spark, 32 * mb + 1) === 2)
      assert(Layout.partitions(spark, 1000 * mb) === 8)
      assert(Layout.partitions(spark, 0) === 8)
    }
  }

  test("spread takes a single-split batch input to the parallelism, rows " +
    "unchanged") {
    val one = spark.range(0, 100, 1, 1).toDF("id")
    val spread = Layout.spread(one)
    assert(spread.rdd.getNumPartitions === Layout.parallelism(spark))
    assert(spread.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
  }

  test("spread leaves an input with at least parallelism splits untouched") {
    val p = Layout.parallelism(spark)
    Seq(p, 2 * p).foreach { n =>
      val wide = spark.range(0, 100, 1, n).toDF("id")
      assert(Layout.spread(wide) eq wide)
    }
  }

  test("spread returns a streaming frame as it is, without planning it") {
    // planning a streaming frame outside a query throws, so reaching
    // the assertion shows it was never planned
    val stream = spark.readStream.format("rate").load()
    assert(Layout.spread(stream) eq stream)
  }

  test("library code reads the parallelism and counts splits only " +
    "through Layout") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"no source tree under ${new java.io.File(".").getAbsolutePath}")
    val token = "shuffle\\.partitions|getNumPartitions|adaptiveP".r
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.filterNot(_.getName == "tools").flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = sources(root)
      .filterNot(f => Set("Layout.scala", "Catalog.scala")(f.getName)).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if token.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, s"layout outside Layout: ${hits.mkString(", ")}")
  }
}
