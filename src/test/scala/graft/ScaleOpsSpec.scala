package graft

import graft.relational.ScaleOps

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-technique checks: salted joins return identical results, and
  * bucketed tables join with zero shuffle exchanges.
  */
class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("salted join result-equivalent to plain join") {
    val li = Catalog.t(spark, sf, "lineitem")
    val ord = Catalog.t(spark, sf, "orders")
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(count(lit(1)), sum("l_quantity"), sum("o_totalprice"))
      .collect()(0)
    val salted = ScaleOps.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 8)
      .agg(count(lit(1)), sum("l_quantity"), sum("o_totalprice"))
      .collect()(0)
    assert(salted.getLong(0) == plain.getLong(0))
    assert(salted.getDouble(1) == plain.getDouble(1))
  }

  test("bloom-pruned join result-equivalent to plain join") {
    val li = Catalog.t(spark, sf, "lineitem")
    val ord = Catalog.t(spark, sf, "orders").filter(col("o_totalprice") > 400000)
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
    val pruned = ScaleOps.bloomPrunedJoin(li, ord, "l_orderkey", "o_orderkey",
      expectedItems = 1000)
    assert(plain.count() > 0)
    assert(pruned.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(pruned).count() === 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = Catalog.t(spark, sf, "lineitem")
    val ord = Catalog.t(spark, sf, "orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")
    Catalog.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      // co-located: sort-merge join straight over the bucketed scans
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    }
  }

  test("scale primitives hold at 2M rows x 64 partitions: prefix sum " +
    "stays exact, weighted sample and MG sketch stay bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 2000000L
    val df = spark.range(n).toDF("id").repartition(64)
      .withColumn("w", col("id") % 97 + 1)
    // exact global prefix sum at width: last cumulative == closed form
    val (pre, total) = graft.relational.ScaleOps.globalPrefixSumWithTotal(
      df, Seq(col("id").asc), col("w"), "cum")
    val expTotal = (0L until 97L).map(r => (r + 1) * ((n - 1 - r) / 97 + 1)).sum
    assert(total === expTotal)
    assert(pre.agg(max("cum")).head.getLong(0) === expTotal)
    // weighted sample: top-50 of 2M with no global sort, result bounded
    val sample = graft.llm.Pipeline.weightedSample(df, col("id"), col("w"), 50)
    assert(sample.count() === 50)
    // MG sketch: 2M-term stream into <= 32 counters, exact (97 < ... no:
    // 97 distinct > 32 -> approximation regime; bound must hold)
    graft.functions.GraftFunctions.register(spark)
    val hh = df.selectExpr("cast(id % 97 as string) AS term")
      .agg(expr("graft_mg(term, 32)").as("hh"))
      .selectExpr("explode(hh) AS e").selectExpr("e.cnt")
      .as[Long].collect()
    assert(hh.length <= 32)
    val truth = n / 97 // each term ~20619-20620
    hh.foreach(c => assert(c <= truth + 1 && truth + 1 - c <= n / 33,
      s"count $c outside MG bound"))
  }
}
