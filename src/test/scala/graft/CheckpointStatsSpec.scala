package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats.{Actual, Severed}
import org.scalatest.funsuite.AnyFunSuite

/** `CheckpointStats.truncate`, the one lineage-truncation entry point:
  * the severed and actual-size statistics, the layout repair AQE needs,
  * and the fallbacks. The shim leans on private Spark internals
  * (`Dataset.ofRows`, LogicalRDD's private ctor list,
  * `AdaptiveSparkPlanExec.finalPhysicalPlan`), and its safety story is
  * that every internals assumption degrades to stock behavior rather
  * than a wrong answer; a Spark version bump that changes the internals
  * turns red here instead of into a silent data bug.
  */
class CheckpointStatsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def logicalRdd(df: org.apache.spark.sql.DataFrame): LogicalRDD =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get

  test("severed truncate resets inherited sizeInBytes to the session " +
    "default and repairs the layout AQE erased") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
      "this spec exercises the AQE-erasure path")
    val df = spark.range(1000)
      .select(col("id").as("src"), (col("id") % 7).as("lbl"))
      .repartition(8, col("src"))
    // stock checkpoint under AQE: stats inherited, layout ERASED —
    // the two defects the shim exists for
    val stock = df.localCheckpoint(true)
    assert(stock.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "checkpoint plan is a LogicalRDD")
    val stockL = logicalRdd(stock)
    assert(!stockL.outputPartitioning.isInstanceOf[HashPartitioning],
      s"expected stock checkpoint to erase layout under AQE, " +
        s"got ${stockL.outputPartitioning}")
    val severed = CheckpointStats.truncate(df, reliable = false, Severed)
    val defaultSize = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(severed.queryExecution.optimizedPlan.stats.sizeInBytes
      === defaultSize, "severed stats must be the session default")
    // layout repaired from the executed AQE final plan:
    // HashPartitioning(src, 8) survives onto the logical node …
    val lrdd = logicalRdd(severed)
    assert(lrdd.outputPartitioning.isInstanceOf[HashPartitioning],
      s"severed partitioning was ${lrdd.outputPartitioning}")
    assert(lrdd.outputPartitioning
      .asInstanceOf[HashPartitioning].numPartitions === 8)
    // … and a same-key aggregate plans with NO new Exchange (both a
    // Row round-trip and a stock AQE checkpoint pay one node-sized
    // shuffle here)
    val agg = severed.groupBy(col("src")).count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"same-key aggregate over the severed frame re-shuffled:\n$plan")
    // zero-copy: values identical without re-encoding
    assert(severed.count() === 1000L)
    assert(severed.agg(sum(col("lbl"))).head().getLong(0) ===
      stock.agg(sum(col("lbl"))).head().getLong(0))
  }

  test("the graph loops stay correct on the severed truncation path") {
    // d08-shaped check: two components plus an isolate, through the
    // default (shim) truncation path
    val s = spark
    import s.implicits._
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val cc = graft.llm.GraphAlgs.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
  }

  test("actual-stats truncate: values identical, statistic is the " +
    "stored size (not the origin estimate), layout recovered") {
    val origin = spark.range(1000).toDF("id")
      .withColumn("v", col("id") * 3)
      .repartition(4, col("id"))
    val pinned = CheckpointStats.truncate(origin, reliable = false, Actual)
    // values and count untouched
    assert(pinned.count() === 1000)
    assert(pinned.agg(sum(col("v"))).first().getLong(0) ===
      (0L until 1000L).map(_ * 3).sum)
    // the statistic is the actual stored size: positive and far below
    // any estimate-poisoned figure (1000 rows of two longs store in
    // well under 1 MB)
    val sz = pinned.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 0 && sz < BigInt(1024 * 1024), s"sizeInBytes=$sz")
    // layout recovery: the explicit hash(id)%4 layout survives the pin
    // (stock checkpoint under AQE stores UnknownPartitioning)
    val part = pinned.queryExecution.analyzed
      .asInstanceOf[LogicalRDD]
      .outputPartitioning
    assert(part.toString.contains("hashpartitioning"), part.toString)
  }

  test("severed truncate under DISABLED AQE keeps stock's layout " +
    "(the recoverLayout early-return) and stays correct") {
    graft.Catalog.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.range(512)
        .select(col("id").as("src"), (col("id") % 5).as("lbl"))
        .repartition(4, col("src"))
      val severed = CheckpointStats.truncate(df, reliable = false, Severed)
      // without AQE, stock checkpoint already stores the real layout —
      // recoverLayout must keep it (early return), not damage it
      val lrdd = logicalRdd(severed)
      assert(lrdd.outputPartitioning.isInstanceOf[HashPartitioning],
        s"non-AQE layout lost: ${lrdd.outputPartitioning}")
      assert(severed.count() === 512L)
      // stats still severed on this path
      assert(severed.queryExecution.optimizedPlan.stats.sizeInBytes ===
        BigInt(spark.sessionState.conf.defaultSizeInBytes))
    }
  }

  test("recoverLayout with MISALIGNED origin output falls back to " +
    "stock's stored layout") {
    val df = spark.range(256)
      .select(col("id").as("src"), (col("id") % 5).as("lbl"))
      .repartition(4, col("src"))
    val l = logicalRdd(df.localCheckpoint(true))
    // under AQE the stock checkpoint stored UnknownPartitioning — the
    // precondition for the repair attempt
    assert(l.outputPartitioning.isInstanceOf[UnknownPartitioning])
    // an executed AQE origin whose OUTPUT NAMES do not match the
    // checkpoint's: the remap must refuse (aligned = false) and return
    // stock's answer instead of stitching wrong attributes
    val renamed = spark.range(256)
      .select(col("id").as("other"), (col("id") % 5).as("names"))
      .repartition(4, col("other"))
    renamed.write.format("noop").mode("overwrite").save()
    val (part, ord) = CheckpointStats.recoverLayout(renamed, l)
    assert(part === l.outputPartitioning,
      "misaligned remap must keep stock partitioning")
    assert(ord === l.outputOrdering)
  }

  test("recoverLayout with a NON-AQE executed origin returns stock") {
    // build an AQE checkpoint first (UnknownPartitioning stored)
    val df = spark.range(128)
      .select(col("id").as("src"))
      .repartition(4, col("src"))
    val l = logicalRdd(df.localCheckpoint(true))
    assert(l.outputPartitioning.isInstanceOf[UnknownPartitioning])
    graft.Catalog.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val nonAqe = spark.range(128)
        .select(col("id").as("src"))
        .repartition(4, col("src"))
      nonAqe.write.format("noop").mode("overwrite").save()
      val (part, _) = CheckpointStats.recoverLayout(nonAqe, l)
      assert(part === l.outputPartitioning,
        "non-AQE origin must keep stock partitioning")
    }
  }

  test("severed truncate preserves values and schema on an empty frame") {
    val df = spark.range(0)
      .select(col("id").as("src"), (col("id") % 2).as("lbl"))
      .repartition(2, col("src"))
    val severed = CheckpointStats.truncate(df, reliable = false, Severed)
    assert(severed.count() === 0L)
    assert(severed.schema === df.schema)
  }
}
