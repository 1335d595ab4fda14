package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointStats.Actual

import graft.Materialize

/** Shuffle-management utilities for the 100 TB stance (builder prompt /
  * SURVEY §4): explicit skew salting and bucketed co-located joins,
  * complementing AQE's runtime skew handling (enabled in
  * `Catalog.sessionConfs`).
  */
object ScaleOps {

  /** Skew-mitigating inner equi-join. The big side scatters each row
    * into one of `factor` salt buckets; the small side is replicated
    * once per bucket, so a hot key's rows spread over `factor` tasks
    * instead of one straggler. Result set is identical to
    * `big.join(small, bigKey === smallKey)`.
    *
    * Use when a key's row count exceeds what one task should own and the
    * small side is broadcast-sized per salt replica. (For moderate skew
    * prefer plain AQE skew-join; salting is the heavy hammer.)
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      factor: Int): DataFrame = {
    require(factor >= 1, s"salt factor must be >= 1, got $factor")
    val saltCol = "__graft_salt"
    require(!big.columns.contains(saltCol) && !small.columns.contains(saltCol),
      s"inputs may not already contain a '$saltCol' column")
    val saltedBig = big.withColumn(saltCol,
      pmod(hash(monotonically_increasing_id()), lit(factor)))
    val replicatedSmall = small.withColumn(saltCol,
      explode(array((0 until factor).map(lit): _*)))
    saltedBig
      .join(replicatedSmall,
        saltedBig(bigKey) === replicatedSmall(smallKey) &&
          saltedBig(saltCol) === replicatedSmall(saltCol))
      .drop(saltCol)
  }

  /** Bloom-pruned inner equi-join for bigint keys: build a Bloom filter
    * over the small side's keys (`df.stat.bloomFilter`, distributed
    * aggregate), broadcast it, and drop big-side rows that cannot join
    * BEFORE the shuffle. `mightContain` never false-negatives, so the
    * result is exactly `big.join(small, ...)` — false positives just
    * shuffle a few extra rows that the join then discards.
    *
    * This is the manual form of Spark's runtime bloom pushdown
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`); explicit
    * control matters when the planner won't inject one (e.g. the small
    * side is itself a subquery the optimizer can't size). At 100 TB the
    * win is shuffle bytes: a 1% -selectivity dimension prunes ~99% of
    * the fact scan's shuffle output for ~8 bits/key of broadcast.
    */
  def bloomPrunedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    // an EMPTY build side yields a bloom with null bits whose
    // mightContain NPEs — and an empty small side means an empty inner
    // join, so skip the filter entirely (one cheap isEmpty probe). An
    // empty partition/day/shard must not abort the join job.
    if (small.isEmpty) {
      big.join(small, big(bigKey) === small(smallKey))
    } else {
      val bf = small.stat.bloomFilter(smallKey, expectedItems, fpp)
      val bc = big.sparkSession.sparkContext.broadcast(bf)
      val mightContain = udf((k: java.lang.Long) =>
        k != null && bc.value.mightContainLong(k))
      big.filter(mightContain(col(bigKey)))
        .join(small, big(bigKey) === small(smallKey))
    }
  }

  /** Exact global running total of `valueCol` in `order` order WITHOUT a
    * single-reducer window. A plain
    * `sum(v) OVER (ORDER BY ...)` hash-shuffles every row into ONE task
    * (Catalyst plans an empty-partition window) — the textbook
    * scale-killer for corpus-wide cumulative sums. This is the two-phase
    * scan instead:
    *
    *  1. range-repartition + in-partition sort on the order keys
    *     (TeraSort layout — each of `partitions` tasks owns a contiguous
    *     key range);
    *  2. per-partition totals — `partitions` rows — prefix-scanned on
    *     the driver into per-partition start offsets;
    *  3. an in-partition running sum (window PARTITIONed BY the physical
    *     partition id, so it parallelizes across all tasks) plus the
    *     broadcast offset.
    *
    * `order` must be a TOTAL order (include a unique tiebreak column):
    * the result is then independent of where range boundaries land.
    * Output = input columns + `outCol` (inclusive running total).
    *
    * The sorted layout is pinned so phases 2 and 3 observe the SAME
    * partitioning; the pin backs the returned DataFrame, so it outlives
    * the call's scope and is reclaimed by Spark's ContextCleaner once
    * the result is no longer referenced.
    */
  def globalPrefixSum(
      df: DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      valueCol: org.apache.spark.sql.Column,
      outCol: String,
      partitions: Int = 32): DataFrame =
    globalPrefixSumWithTotal(df, order, valueCol, outCol, partitions)._1

  /** [[globalPrefixSum]] exposing the GRAND total as well — it falls out
    * of the phase-2 per-partition totals for free, so callers that need
    * `n` (e.g. epoch-shuffle position math) avoid a separate count scan.
    */
  def globalPrefixSumWithTotal(
      df: DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      valueCol: org.apache.spark.sql.Column,
      outCol: String,
      partitions: Int = 32): (DataFrame, Long) = Materialize.scoped { m =>
    import org.apache.spark.sql.expressions.Window
    val pidCol = "__graft_pid"
    val vCol = "__graft_psv"
    val offCol = "__graft_off"
    require(!df.columns.contains(pidCol) && !df.columns.contains(vCol) &&
      !df.columns.contains(offCol),
      s"input may not already contain '$pidCol'/'$vCol'/'$offCol' columns")
    // integral inputs only: a silent cast("long") over a double weight
    // would truncate and return a wrong sum with no error
    val typed = df.withColumn(vCol, valueCol)
    val vType = typed.schema(vCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(vType),
      s"globalPrefixSum needs an integral value column, got $vType; " +
        "cast explicitly (and accept the rounding) if that is intended")
    val parted = m.pin(typed // phases 2+3 must see the SAME partitioning
      .withColumn(vCol, col(vCol).cast("long"))
      .repartitionByRange(partitions, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(pidCol, spark_partition_id()), Actual)
    val totals = parted.groupBy(col(pidCol)).agg(sum(col(vCol)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until partitions)
      .scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L))
    // per-partition start offsets join in as a BROADCAST dim (P rows):
    // a when/CASE fold over thousands of partitions would blow Catalyst
    // expression depth / codegen limits at realistic cluster sizes
    val spark = df.sparkSession
    val offsetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until partitions).map(p =>
          org.apache.spark.sql.Row(p, offsets(p))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(pidCol,
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(offCol,
          org.apache.spark.sql.types.LongType, nullable = false))))
    val w = Window.partitionBy(col(pidCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val result = parted
      .join(broadcast(offsetsDf), pidCol)
      .withColumn(outCol, sum(col(vCol)).over(w) + col(offCol))
      .drop(pidCol, vCol, offCol)
    (result, offsets.last)
  }
}
