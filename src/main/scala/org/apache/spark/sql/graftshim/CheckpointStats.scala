package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one home of lineage truncation: [[truncate]], which library code
  * reaches only through `graft.Materialize.Scope.pin`. Stock
  * `Dataset.checkpoint` has two defects that hurt iterative DataFrame
  * code:
  *
  *  1. **Inherited statistics square per round.** The checkpoint's
  *     `LogicalRDD` copies the origin plan's `sizeInBytes`, and a
  *     self-referential iteration joins the previous table with a
  *     derivative of itself, so the carried estimate squares each
  *     round until the driver spends its time multiplying
  *     multi-megabyte BigIntegers in `SizeInBytesOnlyStatsPlanVisitor`
  *     (the 100×-scale d08 curation stage: round walls 2.5 s → 80 s).
  *  2. **AQE drops the layout.** `LogicalRDD.fromDataset` reads
  *     `executedPlan.outputPartitioning`, but under adaptive execution
  *     that is an `AdaptiveSparkPlanExec`, which reports
  *     `UnknownPartitioning` — so every downstream same-key join or
  *     aggregate pays a fresh Exchange.
  *
  * [[truncate]] runs the stock checkpoint, recovers the layout from the
  * executed AQE plan, and rebuilds the Dataset around a new `LogicalRDD`
  * sharing the checkpoint's `RDD[InternalRow]` (zero re-encode) with the
  * statistics the caller asked for.
  *
  * Lives under `org.apache.spark.sql` because `Dataset.ofRows` and
  * `LogicalRDD`'s second parameter list are `private[sql]`.
  *
  * **Spark-upgrade contract:** every internals dependency degrades to
  * stock behavior, never to a wrong answer. CheckpointStatsSpec
  * exercises the layout fallbacks and pins the repaired layout; on a Spark
  * version bump run it first — if the repair stops firing, results
  * stay correct and only the zero-Exchange layout pins fail.
  */
object CheckpointStats {

  /** The statistics a truncated frame carries. */
  sealed trait Stats

  /** No statistics: the planner falls back to the bounded session
    * default. For iterative loops, where inherited stats square.
    */
  case object Severed extends Stats

  /** The checkpoint's actual stored size. For one-shot memo pins, where
    * the origin estimate can be orders of magnitude off (the near-dup
    * edge memo: ~2 MB stored, 5.9 GB estimated) and would steer
    * auto-broadcasts and size-derived partition counts.
    */
  case object Actual extends Stats

  /** Eagerly checkpoint `df` — reliable `checkpoint()` when `reliable`,
    * else executor-local — and return it with the recovered layout and
    * the requested statistics.
    *
    * Fallbacks: a checkpoint plan that is not a `LogicalRDD` takes a
    * Row round-trip (severed) or keeps stock's inherited estimate
    * (actual), as does an empty storage report (actual). The system
    * property `graft.statsReset=stock` turns severed truncation into a
    * plain stock checkpoint; it exists only as StatsInvarianceSpec's
    * reference.
    */
  def truncate(df: DataFrame, reliable: Boolean, stats: Stats): DataFrame = {
    val cp =
      if (reliable) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    if (stats == Severed && sys.props.get("graft.statsReset").contains("stock"))
      return cp
    cp.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = cp.sparkSession.asInstanceOf[ClassicSession]
        def rebuild(carried: Option[Statistics]): DataFrame = {
          val (part, ord) = recoverLayout(df, l)
          Dataset.ofRows(session,
            LogicalRDD(l.output, l.rdd, part, ord, l.isStreaming, l.stream)(
              session, carried, None))
        }
        stats match {
          case Severed => rebuild(None)
          case Actual =>
            val size = session.sparkContext.getRDDStorageInfo
              .filter(_.id == l.rdd.id)
              .map(i => BigInt(i.memSize) + BigInt(i.diskSize)).sum
            if (size > 0) rebuild(Some(Statistics(sizeInBytes = size))) else cp
        }
      case _ if stats == Actual => cp
      case _ => cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
  }

  /** The layout stock checkpoint should have stored: if it recorded
    * `UnknownPartitioning` and the origin ran under AQE, read the
    * final physical plan (already executed — the checkpoint was
    * eager) and remap its partitioning/ordering expressions from
    * physical output attributes to the checkpoint's logical output,
    * positionally (same arity and names, or we keep stock's answer).
    */
  private[graftshim] def recoverLayout(
      origin: DataFrame, l: LogicalRDD): (Partitioning, Seq[SortOrder]) = {
    val stock = (l.outputPartitioning, l.outputOrdering)
    if (!l.outputPartitioning.isInstanceOf[UnknownPartitioning]) return stock
    origin.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        try {
          val fp = a.finalPhysicalPlan
          val aligned = fp.output.length == l.output.length &&
            fp.output.zip(l.output).forall { case (p, o) => p.name == o.name }
          if (!aligned) return stock
          val m = AttributeMap(fp.output.zip(l.output))
          var ok = true
          def remap(e: Expression): Expression = e.transformUp {
            case att: Attribute => m.get(att).getOrElse { ok = false; att }
          }
          val part = fp.outputPartitioning match {
            case e: Expression => remap(e).asInstanceOf[Partitioning]
            case p => p // attribute-free (RoundRobin / Single / Unknown)
          }
          val ord = fp.outputOrdering
            .map(o => remap(o).asInstanceOf[SortOrder])
          if (ok) (part, ord) else stock
        } catch { case scala.util.control.NonFatal(_) => stock }
      case _ => stock
    }
  }
}
