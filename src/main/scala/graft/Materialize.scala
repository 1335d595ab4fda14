package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of executor-side materialization for library code,
  * next to [[TempDirs]] (its on-disk twin). One rule:
  *   - cache only inside a [[scoped]] block, through [[Scope.cache]];
  *     every cache a scope takes is unpersisted (blocking) when the
  *     block returns or throws;
  *   - what a builder returns reads no scoped cache: a result that
  *     outlives its scope reads an eager pin (`localCheckpoint(true)` or
  *     `CheckpointStats.truncate`), whose storage the ContextCleaner
  *     frees once the result is unreachable;
  *   - reuse across queries goes only through a [[SessionMemo]] over
  *     such pins.
  * A long-lived session calling library builders therefore holds no
  * cache entry between calls, without running `clearCache`.
  */
object Materialize {

  /** The caches one [[scoped]] block has taken and not yet released. */
  final class Scope private[Materialize] {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Cache `df` until the scope exits (or [[release]]); returns it. */
    def cache(df: DataFrame): DataFrame = {
      held += df.cache()
      df
    }

    /** Release one cache of this scope now (an iteration's previous
      * round); the scope's other caches stay.
      */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_ eq df)
      require(i >= 0, "release of a DataFrame this scope did not cache")
      held.remove(i).unpersist(blocking = true)
    }

    private[Materialize] def releaseAll(): Unit =
      while (held.nonEmpty) held.remove(held.size - 1).unpersist(blocking = true)
  }

  /** Run `body` with a fresh [[Scope]] and release every cache it took
    * when `body` returns or throws; the result is `body`'s.
    */
  def scoped[A](body: Scope => A): A = {
    val m = new Scope
    try body(m) finally m.releaseAll()
  }

  /** One artifact memoized per (session, data dir): built once for the
    * current session and rebuilt when a new session asks, which drops
    * the old session's entry so its storage can be collected. Use one
    * instance per artifact: a build may read another memo, and a nested
    * `compute` on the same map fails.
    */
  final class SessionMemo[V] {
    private val entries = new ConcurrentHashMap[String, (SparkSession, V)]()

    def apply(s: SparkSession, dir: String)(build: => V): V =
      entries.compute(dir, (_, cur) =>
        if (cur != null && (cur._1 eq s)) cur else (s, build))._2
  }
}
