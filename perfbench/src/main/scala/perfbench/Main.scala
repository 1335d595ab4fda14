package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** A step whose output did not match the expected value. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Runs named steps: times each one, opens a span around it when
  * tracing, and counts steps attempted and failed. A step fails when it
  * throws or when one of its checks does not hold.
  */
final class Steps(val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  /** Seconds per step name in the current iteration. */
  val times = mutable.LinkedHashMap.empty[String, Double]

  def step(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] step $name failed: $e")
    }
    times(name) = times.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def checkEq[A](got: A, want: A, what: String): Unit =
    check(got == want, s"$what: got $got, want $want")
}

/** A benchmark workload: one client running iterations in a closed
  * loop. `build` makes the seeded inputs under a fresh directory and is
  * called several times during set-up; the last build is the one the
  * iterations use.
  */
trait Workload {
  def build(dir: Path): Unit
  def iteration(s: Steps): Unit
  /** Undoes an iteration's side effects, outside the timed region. */
  def afterIteration(): Unit = ()
  /** Records one iteration processes (decoded, written or read). */
  def recordsPerIteration: Double
  def bytesPerRecord: Double
  /** Per-layer numbers of one traced iteration, taken before
    * `afterIteration` removes its outputs.
    */
  def layers(t: Tracer, iter: Span, cores: Int): Map[String, Double]
  /** MB of executor storage an iteration left cached when it returned. */
  def retainedMb(spark: SparkSession): Double = Main.storageMb(spark)
}

object Main {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val data = Paths.get(opts("data")).toAbsolutePath
    val traceOut = opts.get("trace-out").map(Paths.get(_))
    val ok = run(workload, seed, seconds, traced, work, data, traceOut)
    sys.exit(if (ok) 0 else 1)
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(graft.Catalog.sessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Releases what a step left cached and collects garbage, outside
    * the timed region, so one iteration does not tax the next.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** MB of executor storage held by cached blocks right now. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  private def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, data: Path, traceOut: Option[Path]): Boolean = {
    val loadBefore = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = secondsSince(t0)
    val tracer = new Tracer(spark)
    val steps = new Steps(tracer)
    val wl: Workload = workload match {
      case "state" => new StatePipeline(spark, seed, work.resolve("out"))
      case "query_mix" => new QueryMix(spark, seed, data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: several seeded builds (the median counts), then one
    // untimed warm-up iteration that also checks outputs
    val builds = (1 to SetupBuilds).map { i =>
      val dir = work.resolve(s"fixture-$i")
      val b0 = System.nanoTime()
      wl.build(dir)
      val s = secondsSince(b0)
      if (i > 1) deleteTree(work.resolve(s"fixture-${i - 1}"))
      System.gc()
      s
    }
    val w0 = System.nanoTime()
    wl.iteration(steps)
    val warmS = secondsSince(w0)
    val warmSteps = steps.times.toSeq
    wl.afterIteration()
    settle(spark)
    val setupS = sessionS + median(builds) + warmS

    // timed iterations; a traced run alternates untraced and traced ones
    val plain = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedTimes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedIters = mutable.ArrayBuffer.empty[(Span, Double, Map[String, Double])]
    val retained = mutable.ArrayBuffer.empty[Double]
    var plainOrder = Seq.empty[String]
    val m0 = System.nanoTime()
    var i = 0
    // traced runs go untraced, traced, traced, untraced, so JIT warming
    // over the run does not bias the tracing overhead either way
    def enough: Boolean = secondsSince(m0) >= seconds && (if (traced) i % 4 == 0 else i > 0)
    while (!enough) {
      i += 1
      val on = traced && (i % 4 == 2 || i % 4 == 3)
      tracer.setEnabled(on)
      tracer.iter = i
      steps.times.clear()
      val gc0 = gcSeconds()
      tracer.span("iteration")(wl.iteration(steps))
      val gcS = gcSeconds() - gc0
      retained += wl.retainedMb(spark)
      if (on) {
        tracer.drain()
        val it = tracer.ofIter(i).head
        tracedIters += ((it, gcS, wl.layers(tracer, it, cores)))
        tracedTimes += steps.times.toMap
      } else {
        plain += steps.times.toMap
        plainOrder = steps.times.keys.toSeq
      }
      wl.afterIteration()
      settle(spark)
    }
    tracer.setEnabled(false)

    // wall_s: one iteration built from each step's median over the
    // timed untraced iterations
    def wallOf(its: Seq[Map[String, Double]]): Double =
      its.head.keys.toSeq.map(k => median(its.map(_.getOrElse(k, 0.0)))).sum
    val wallS = wallOf(plain.toSeq)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wallS, "s")
      metrics("records_per_s") = (wl.recordsPerIteration / wallS, "1/s")
      metrics("bytes_per_record") = (wl.bytesPerRecord, "B")
    } else {
      val per = tracedIters.map { case (it, gcS, layers) =>
        val t = tracer.totals(it)
        val steps = tracer.spans.filter(_.parent == it.id)
        val single = steps.map { s =>
          tracer.totals(s).maxTaskMs / 1000.0 / math.max(s.wallS, 1e-3)
        }.maxOption.getOrElse(0.0)
        Map(
          "spark.plan_ms" -> t.planMs.toDouble,
          "spark.jobs" -> t.jobs.toDouble,
          "spark.tasks" -> t.tasks.toDouble,
          "spark.task_s" -> t.taskMs / 1000.0,
          "spark.core_util" -> t.taskMs / 1000.0 / (it.wallS * cores),
          "spark.max_task_s" -> t.maxTaskMs / 1000.0,
          "spark.single_task_share" -> single,
          "spark.driver_gap_s" -> tracer.driverGapS(it, t),
          "spark.shuffle_mb" -> t.shuffleWriteBytes / 1048576.0,
          "spark.spill_mb" -> t.spillBytes / 1048576.0,
          "spark.gc_s" -> gcS) ++ layers
      }
      val whole = Map(
        "trace.overhead" -> wallOf(tracedTimes.toSeq) / wallS,
        "retained_storage_mb" -> median(retained.toSeq))
      LayerMetrics.all.foreach { case (n, unit) =>
        val v = whole.getOrElse(n, median(per.flatMap(_.get(n)).toSeq))
        // a layer the workload does not exercise reads 0
        metrics(n) = (if (v.isNaN) 0.0 else v, unit)
      }
      traceOut.foreach(tracer.dump)
    }

    val loadAfter = loadAvg()
    val heapMb = Runtime.getRuntime.maxMemory() / 1048576
    println(Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> traced.toString, "cores" -> cores.toString,
      "heap_mb" -> heapMb.toString, "load_before" -> Json.num(loadBefore),
      "load_after" -> Json.num(loadAfter),
      "session_s" -> Json.num(sessionS),
      "build_s" -> builds.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmS),
      "warmup_steps_s" -> Json.obj(warmSteps.map { case (k, v) => k -> Json.num(v) }),
      "steps_s" -> Json.obj(plainOrder.map(k => k -> Json.num(median(plain.map(_.getOrElse(k, 0.0)).toSeq)))),
      "iterations" -> plain.size.toString,
      "iteration_s" -> plain.map(it => Json.num(it.values.sum)).mkString("[", ",", "]"),
      "traced_iterations" -> tracedIters.size.toString,
      "failed_ratio" -> Json.num(steps.failed.toDouble / steps.attempted),
      "retained_storage_mb" -> Json.num(median(retained.toSeq)))))
    val ok = steps.failed == 0
    println(Json.obj(Seq(
      "correct" -> ok.toString,
      "attempted" -> steps.attempted.toString,
      "failed" -> steps.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    spark.stop()
    ok
  }

  /** Seeded builds per run; set-up time reports their median. */
  val SetupBuilds = 3

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
