package graft.tools

import graft.core.codec.Codecs.LongCodec
import graft.state.Savepoints

import org.apache.spark.sql.SparkSession

/** 100×-scale smoke for the savepoint path (SURVEY.md §7.4 #7): builds
  * a savepoint ~50× the sf0.1 state-query corpus (default 5M keys,
  * maxParallelism 4096, 128 subtasks), then measures the full
  * bootstrap → scan → rescale → re-scan cycle the way a cluster
  * operator would read it:
  *
  *  1. WRITE: bootstrap a value state of `nKeys` (Long → Long) entries
  *     across `par` subtask files (`main`: 128 at maxPar 4096).
  *  2. SCAN: the source's byte-sized splits (runs of key groups up to
  *     `spark.sql.files.maxPartitionBytes`; at this size one partition
  *     per subtask file).
  *  3. RESCALE: copy-through rewrite at parallelism `2 * par` (key
  *     groups re-bucketed 128 → 256 subtasks in `main`), then re-read
  *     and verify count.
  *
  * What "driver holds handles only" means measurably: the driver-side
  * savepoint metadata is O(subtasks × states) file handles — printed as
  * `meta_handles` (vs `n_keys`); state rows never collect to the
  * driver (phases aggregate counts distributively). JVM heap peaks are
  * sampled per phase ([[ToolKit.phase]]); in local mode executors share
  * the JVM, so the heap number bounds driver+executor together — the
  * scale argument is the handle count plus the largest partition's row
  * count, also printed (`scan_subtask_max_rows`).
  *
  * Run: `sbt "runMain graft.tools.SavepointScaleSmoke [nKeys] [dir]"`;
  * without `dir` the savepoints go to a temp dir deleted at exit. The
  * heap is the forked JVM's (`build.sbt`). Prints one JSON line; round
  * evidence lands in PLANS.md.
  */
object SavepointScaleSmoke {

  def main(args: Array[String]): Unit =
    ToolKit.main("graft-scale-smoke")(run(_,
      if (args.length > 0) args(0).toLong else 5000000L,
      if (args.length > 1) args(1)
      else graft.TempDirs.create("graft-scale"), // a caller's dir is kept
      128, 4096))

  /** One JSON line for `nKeys` keys written by `par` subtasks at
    * `maxPar` key groups and rescaled to `2 * par`; the savepoints go
    * under `root`. The handle-count keys keep their names from `main`'s
    * 128 → 256 subtasks at any `par`.
    */
  def run(spark: SparkSession, nKeys: Long, root: String,
          par: Int, maxPar: Int): Unit = {
    import spark.implicits._
    val dir1 = s"$root/sp1"
    val dir2 = s"$root/sp2"

    // 1. WRITE: nKeys of (k, 2k) value state
    val (meta1, writeS, writeMb) = ToolKit.phase {
      Savepoints.writer(spark, Savepoints.bootstrap("bigop", par, maxPar), "bigop")
        .withKeyCodec(LongCodec)
        .createNewValueState("counts",
          spark.range(nKeys).map(i => (i, i * 2)), LongCodec)
        .writeAll(dir1)
    }
    val handles1 = meta1.operator("bigop").keyedFiles.size

    // 2. SCAN: distributed per-partition tally; only the
    // (partitions)-row histogram ever reaches the driver
    val ((parts, rows, maxRows), scanS, scanMb) = ToolKit.phase {
      val sizes = spark.read.format("flink-savepoint")
        .option("uid", "bigop").load(dir1).rdd
        .mapPartitions(it => Iterator(it.size.toLong))
        .collect()
      (sizes.length, sizes.sum, sizes.max)
    }

    // 3. RESCALE par → 2 * par subtasks (same maxPar), pure copy-through
    val (meta2, rescaleS, rescaleMb) = ToolKit.phase {
      val reader = Savepoints.reader(spark, meta1, "bigop")
      Savepoints.writer(spark, meta1, "bigop")
        .withParallelism(2 * par, maxPar)
        .addKeyedStateRows(reader.getAllUnreadKeyedStateRows)
        .writeAll(dir2)
    }
    val handles2 = meta2.operator("bigop").keyedFiles.size
    val (nAfter, verifyS, _) = ToolKit.phase {
      Savepoints.reader(spark, meta2, "bigop")
        .readValueStates[Long, Long]("counts")
        .filter(kv => kv._2 == kv._1 * 2)
        .count()
    }
    require(nAfter == nKeys, s"rescale lost rows: $nAfter of $nKeys")
    require(rows == nKeys, s"scan rows $rows of $nKeys")

    ToolKit.emit("metric" -> "savepoint_scale_smoke", "n_keys" -> nKeys,
      "max_parallelism" -> maxPar, "parallelism" -> par,
      "write_s" -> writeS, "write_peak_mb" -> writeMb,
      "meta_handles_128" -> handles1, "meta_handles_256" -> handles2,
      "scan_subtask_parts" -> parts, "scan_subtask_s" -> scanS,
      "scan_subtask_max_rows" -> maxRows, "scan_subtask_peak_mb" -> scanMb,
      "rescale_s" -> rescaleS, "rescale_peak_mb" -> rescaleMb,
      "verify_s" -> verifyS, "verified_rows" -> nAfter)
  }
}
