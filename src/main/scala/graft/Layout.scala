package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of data layout for library code, next to
  * [[Materialize]] and [[TempDirs]]: the only place that reads the
  * session's parallelism or chooses a partition count. One rule, from
  * the data, never from the core count alone:
  *   - [[partitions]]: ⌈size / 32 MB⌉, capped by the parallelism, for
  *     explicit repartition+cache layouts. Laid out across every core,
  *     a few-MB gate graph paid ~0.35 s of task contention per loop
  *     stage at `local[32]`. An unknown size (severed statistics report
  *     the session default) keeps the full parallelism.
  *   - [[spread]]: a single-file table reads as one split, so a per-row
  *     kernel on it ran as one task; spread it round-robin to the
  *     parallelism first. A corpus-scale scan has enough splits and
  *     nothing fires. The count is the parallelism, not a byte-derived
  *     one: 5,000 documents are far below 32 MB.
  * Both are pure layout: every result is partitioning-invariant.
  */
object Layout {

  private val ParallelismConf = "spark.sql.shuffle.partitions"
  private val TargetPartitionBytes: Long = 32L * 1024 * 1024

  /** Nodes at or below which a graph loop broadcasts its node-sized
    * side: ~4M (long, long) rows ≈ 64 MB serialized.
    */
  val DefaultBroadcastMaxNodes: Long = 4L * 1000 * 1000

  /** The parallelism a stateful stream borrows through
    * [[Catalog.withConfs]]: one state store opens per shuffle partition,
    * and at test scale store setup dominates. Micro-batch planning reads
    * it lazily, so hold it until `processAllAvailable`/`stop` returns.
    */
  private[graft] val StreamStatePartitions = ParallelismConf -> "8"

  /** The session's parallelism: its shuffle partition count. */
  def parallelism(spark: SparkSession): Int = spark.conf.get(ParallelismConf).toInt

  /** Partitions for `df`, from its optimized plan's size estimate. */
  def partitions(df: DataFrame): Int =
    partitions(df.sparkSession, df.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** Partitions for `bytes`; a non-positive (unknown) size gets the parallelism. */
  def partitions(spark: SparkSession, bytes: BigInt): Int = {
    val cap = parallelism(spark)
    if (bytes <= 0) cap
    else ((bytes + TargetPartitionBytes - 1) / TargetPartitionBytes)
      .min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** `df` spread round-robin to the parallelism when it is a batch frame
    * with fewer splits; otherwise `df`. A stream is never planned.
    */
  def spread(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val p = parallelism(df.sparkSession)
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
}
