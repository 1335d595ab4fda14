package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** The measurement kit every tool main shares: the session, per-rung
  * hygiene, one phase timer and one JSON-line writer.
  *
  * Each scale smoke is a `run(spark, sizes...)` body plus a one-line
  * `main` that calls [[main]]; a test calls the body on its own session,
  * and only `main` stops one.
  */
object ToolKit {

  /** Run `body` on a local session named `appName` and stop it after.
    * Sets `Locale.ROOT` as the JVM default first, so every formatted
    * number a tool prints reads the same on any host locale, and
    * registers the graft kernels.
    */
  def main(appName: String)(body: SparkSession => Unit): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = graft.Catalog.localSession(appName)
    graft.functions.GraftFunctions.register(spark)
    try body(spark) finally spark.stop()
  }

  /** Run `body` once per rung of a size ladder, releasing the session's
    * cached tables after each, so one rung's cache does not tax the next
    * rung's numbers. The heap needs no collection here: every timer is
    * a [[phase]], which collects it before it starts.
    */
  def rungs[T](spark: SparkSession, sizes: Seq[T])(body: T => Unit): Unit =
    sizes.foreach { s =>
      body(s)
      spark.catalog.clearCache()
    }

  /** Time `f`: its value, wall seconds and the peak JVM heap in MB seen
    * while it ran, sampled every 100 ms by a thread of this call. The
    * heap is collected first, outside the timed region, so the peak is
    * the phase's own. In local mode executors share the JVM, so the peak
    * bounds driver and executors together.
    * `f` must materialize what it measures: a lazy `cache()` returned
    * unevaluated times only plan construction.
    */
  def phase[A](f: => A): (A, Double, Long) = {
    System.gc()
    val peak = new AtomicLong(0L)
    def sample(): Unit = {
      val rt = Runtime.getRuntime
      peak.accumulateAndGet(rt.totalMemory() - rt.freeMemory(), math.max)
    }
    val sampler = new Thread(() =>
      try while (true) { sample(); Thread.sleep(100) }
      catch { case _: InterruptedException => })
    sampler.setDaemon(true)
    sampler.start()
    try {
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      sample()
      (r, secs, peak.get() >> 20)
    } finally {
      sampler.interrupt()
      sampler.join()
    }
  }

  /** Print one JSON line; see [[graft.Json.obj]] for the value forms. */
  def emit(fields: (String, Any)*): Unit = println(graft.Json.obj(fields: _*))
}
