package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.CheckpointStats

/** The one home of executor-side materialization for library code,
  * next to [[TempDirs]] (its on-disk twin). One rule: cache and pin
  * only in a scope, a scope keeps only what its result reads, and
  * cross-query reuse goes only through a [[SessionMemo]].
  *   - When a [[scoped]] block returns or throws, every cache it took
  *     is unpersisted (blocking), and so is every pin its result does
  *     not read. A pin the result reads passes to the enclosing scope
  *     of the same thread, which applies the same rule; with none, the
  *     ContextCleaner frees it once the result is unreachable.
  *   - A [[SessionMemo]] builds outside any enclosing scope, so the
  *     pins of its value live as long as the entry.
  * A long-lived session calling library builders therefore holds
  * neither a cache entry nor an intermediate pin between calls,
  * without running `clearCache`.
  */
object Materialize {

  /** Session conf: a reliable (HDFS/object store) directory that makes
    * every pin a reliable `checkpoint()` there, so a lost executor no
    * longer fails the job. Reliable pins keep Spark's checkpoint-file
    * lifecycle.
    */
  val GraphCheckpointDirConf = "graft.graph.checkpointDir"

  /** The caches and pins one [[scoped]] block holds. */
  final class Scope private[Materialize] {
    /** (frame, whether it is a pin), in the order taken. */
    private val held = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, Boolean)]

    /** Cache `df` until the scope exits (or [[release]]); returns it. */
    def cache(df: DataFrame): DataFrame = {
      held += df.cache() -> false
      df
    }

    /** The one eager checkpoint: `df` through
      * [[org.apache.spark.sql.graftshim.CheckpointStats.truncate]] (the
      * recovered layout and `stats`), reliable when the frame's session
      * sets [[GraphCheckpointDirConf]], held until the scope exits.
      */
    def pin(df: DataFrame, stats: CheckpointStats.Stats): DataFrame = {
      val dir = df.sparkSession.conf.getOption(GraphCheckpointDirConf)
      dir.foreach(df.sparkSession.sparkContext.setCheckpointDir)
      val p = CheckpointStats.truncate(df, dir.isDefined, stats)
      held += p -> true
      p
    }

    /** Release one cache or pin now (a loop's previous round, once
      * nothing read later reads it); the others stay.
      */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_._1 eq df)
      require(i >= 0, "release of a DataFrame this scope did not cache or pin")
      free(held.remove(i))
    }

    private[Materialize] def exit(keep: Set[Int], outer: Option[Scope]): Unit = {
      val (kept, dropped) = held.partition { case (df, pin) => pin && rddIds(df).exists(keep) }
      dropped.reverseIterator.foreach(free)
      outer.foreach(_.held ++= kept)
    }
  }

  private def free(h: (DataFrame, Boolean)): Unit =
    if (h._2) leaves(h._1).foreach(_.unpersist(blocking = true))
    else h._1.unpersist(blocking = true)

  private val enclosing = ThreadLocal.withInitial[Option[Scope]](() => None)

  /** Run `body` with a fresh [[Scope]] and apply the rule when it
    * returns or throws; the result is `body`'s.
    */
  def scoped[A](body: Scope => A): A = {
    val (outer, m) = (enclosing.get, new Scope)
    var keep = Set.empty[Int]
    try within(Some(m)) { val a = body(m); keep = rddIds(a); a }
    finally m.exit(keep, outer)
  }

  private def within[A](scope: Option[Scope])(body: => A): A = {
    val outer = enclosing.get
    enclosing.set(scope)
    try body finally enclosing.set(outer)
  }

  /** The `LogicalRDD` leaves, subqueries included, of a `DataFrame` or
    * of the `DataFrame` fields of a tuple.
    */
  private def leaves(a: Any): Seq[RDD[_]] = a match {
    case df: Dataset[_] =>
      df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }
    case p: Product => p.productIterator.toSeq.collect { case df: Dataset[_] => df }
      .flatMap(leaves)
    case _ => Nil
  }

  /** The RDD ids of `a`'s `LogicalRDD` leaves: the pins it reads. */
  private[graft] def rddIds(a: Any): Set[Int] = leaves(a).map(_.id).toSet

  private val memos = new ConcurrentLinkedQueue[SessionMemo[_]]()

  /** The RDD ids every [[SessionMemo]] entry reads. */
  private[graft] def memoRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.flatMap(_.held).flatMap(rddIds).toSet
  }

  /** One artifact memoized per (session, data dir): built once for the
    * current session and rebuilt when a new session asks, which drops
    * the old session's entry so its storage can be collected. Use one
    * instance per artifact: a build may read another memo, and a nested
    * `compute` on the same map fails.
    */
  final class SessionMemo[V] {
    private val entries = new ConcurrentHashMap[String, (SparkSession, V)]()
    memos.add(this)

    def apply(s: SparkSession, dir: String)(build: => V): V =
      entries.compute(dir, (_, cur) =>
        if (cur != null && (cur._1 eq s)) cur else (s, within(None)(build)))._2

    private[graft] def held: Iterable[V] = {
      import scala.jdk.CollectionConverters._
      entries.values.asScala.map(_._2)
    }
  }
}
