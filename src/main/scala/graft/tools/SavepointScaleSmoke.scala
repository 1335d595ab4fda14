package graft.tools

import graft.Catalog
import graft.core.codec.Codecs.LongCodec
import graft.state.Savepoints

/** 100×-scale smoke for the savepoint path (SURVEY.md §7.4 #7): builds
  * a savepoint ~50× the sf0.1 state-query corpus (default 5M keys,
  * maxParallelism 4096, 128 subtasks), then measures the full
  * bootstrap → scan → rescale → re-scan cycle the way a cluster
  * operator would read it:
  *
  *  1. WRITE: bootstrap a value state of `nKeys` (Long → Long) entries
  *     across 128 subtask files at maxPar 4096.
  *  2. SCAN: the source's byte-sized splits (runs of key groups up to
  *     `spark.sql.files.maxPartitionBytes`; at this size one partition
  *     per subtask file).
  *  3. RESCALE: copy-through rewrite at parallelism 256 (key groups
  *     re-bucketed 128 → 256 subtasks), then re-read and verify count.
  *
  * What "driver holds handles only" means measurably: the driver-side
  * savepoint metadata is O(subtasks × states) file handles — printed as
  * `meta_handles` (vs `n_keys`); state rows never collect to the
  * driver (phases aggregate counts distributively). JVM heap peaks are
  * sampled per phase; in local mode executors share the JVM, so the
  * heap number bounds driver+executor together — the scale argument is
  * the handle count plus the largest partition's row count, also
  * printed (`scan_subtask_max_rows`).
  *
  * Run: `sbt "runMain graft.tools.SavepointScaleSmoke [nKeys] [dir]"`.
  * Prints one JSON line; round evidence lands in PLANS.md.
  */
object SavepointScaleSmoke {

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  private def startSampler(): Thread = {
    val t = new Thread(() => {
      val rt = Runtime.getRuntime
      while (true) {
        val used = rt.totalMemory() - rt.freeMemory()
        peak.updateAndGet(p => math.max(p, used))
        Thread.sleep(100)
      }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  private def phase[A](f: => A): (A, Double, Long) = {
    peak.set(0L)
    System.gc()
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    (r, secs, peak.get() >> 20)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // deterministic JSON decimals
    val nKeys = if (args.length > 0) args(0).toLong else 5000000L
    val root = if (args.length > 1) args(1)
      else graft.TempDirs.create("graft-scale") // a caller's dir is kept
    val maxPar = 4096
    val par = 128

    val spark = Catalog.localSession("graft-scale-smoke",
      Map("spark.driver.memory" -> "16g"))
    import spark.implicits._

    startSampler()
    val dir1 = s"$root/sp1"
    val dir2 = s"$root/sp2"

    // 1. WRITE: nKeys of (k, 2k) value state, 128 subtasks, maxPar 4096
    val (meta1, writeS, writeMb) = phase {
      Savepoints.writer(spark, Savepoints.bootstrap("bigop", par, maxPar), "bigop")
        .withKeyCodec(LongCodec)
        .createNewValueState("counts",
          spark.range(nKeys).map(i => (i, i * 2)), LongCodec)
        .writeAll(dir1)
    }
    val handles1 = meta1.operator("bigop").keyedFiles.size

    // 2. SCAN: distributed per-partition tally; only the
    // (partitions)-row histogram ever reaches the driver
    val ((parts, rows, maxRows), scanS, scanMb) = phase {
      val sizes = spark.read.format("flink-savepoint")
        .option("uid", "bigop").load(dir1).rdd
        .mapPartitions(it => Iterator(it.size.toLong))
        .collect()
      (sizes.length, sizes.sum, sizes.max)
    }

    // 3. RESCALE 128 → 256 subtasks (same maxPar), pure copy-through
    val (meta2, rescaleS, rescaleMb) = phase {
      val reader = Savepoints.reader(spark, meta1, "bigop")
      Savepoints.writer(spark, meta1, "bigop")
        .withParallelism(256, maxPar)
        .addKeyedStateRows(reader.getAllUnreadKeyedStateRows)
        .writeAll(dir2)
    }
    val handles2 = meta2.operator("bigop").keyedFiles.size
    val (nAfter, verifyS, _) = phase {
      Savepoints.reader(spark, meta2, "bigop")
        .readValueStates[Long, Long]("counts")
        .filter(kv => kv._2 == kv._1 * 2)
        .count()
    }
    require(nAfter == nKeys, s"rescale lost rows: $nAfter of $nKeys")
    require(rows == nKeys, s"scan rows $rows of $nKeys")

    val json =
      s"""{"metric":"savepoint_scale_smoke","n_keys":$nKeys,""" +
      s""""max_parallelism":$maxPar,"parallelism":$par,""" +
      s""""write_s":${f"$writeS%.1f"},"write_peak_mb":$writeMb,""" +
      s""""meta_handles_128":$handles1,"meta_handles_256":$handles2,""" +
      s""""scan_subtask_parts":$parts,"scan_subtask_s":${f"$scanS%.1f"},""" +
      s""""scan_subtask_max_rows":$maxRows,"scan_subtask_peak_mb":$scanMb,""" +
      s""""rescale_s":${f"$rescaleS%.1f"},"rescale_peak_mb":$rescaleMb,""" +
      s""""verify_s":${f"$verifyS%.1f"},"verified_rows":$nAfter}"""
    // single greppable result line, like Bench
    println(json)
  }
}
