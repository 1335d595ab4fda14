package graft.tools

import graft.TempDirs
import graft.streaming.StreamingQueries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 100×-scale smoke for the versioned upsert sink (st24) and its vacuum
  * (st25): maintains a keyed snapshot of `nKeys` users (default 5M)
  * through a chain of merge batches and measures the properties the
  * operators claim at 100 TB:
  *
  *  1. MERGE COST IS FLAT IN HISTORY LENGTH: each batch b is
  *     `batchRows` synthetic events (uniform over the keyspace);
  *     v_b = full-outer(v_{b-1}, agg(batch b)) — wall time per batch
  *     must track |snapshot| + |batch|, NOT the number of prior
  *     versions (nothing ever rescans the event history).
  *  2. DRIVER HOLDS NOTHING: batches and snapshots are generated and
  *     merged distributively (spark.range → agg → join → parquet);
  *     the only driver values are the per-version byte/row counts.
  *  3. VACUUM IS A HANDLE DELETE: retiring versions v0..v_{B-3}
  *     reclaims their bytes in O(files) driver time, and the surviving
  *     head still decodes (count verified against the expected
  *     keyspace).
  *
  * Run: `sbt "runMain graft.tools.SnapshotChainScaleSmoke [nKeys] [batchRows] [nBatches]"`
  * (defaults 5M, 5M, 4). Prints one JSON line per batch plus a vacuum
  * line; the versions live in a scoped temp dir, deleted when the run
  * returns or throws. The record lands in PLANS.md.
  */
object SnapshotChainScaleSmoke {

  def main(args: Array[String]): Unit =
    ToolKit.main("graft-snapshot-chain-scale-smoke")(run(_,
      if (args.length > 0) args(0).toLong else 5000000L,
      if (args.length > 1) args(1).toLong else 5000000L,
      if (args.length > 2) args(2).toInt else 4))

  /** One JSON line per merge batch plus a vacuum line. */
  def run(spark: SparkSession, nKeys: Long, batchRows: Long, nBatches: Int): Unit =
    TempDirs.scoped("graft-chain-smoke") { dir =>
      val base = dir.toString
      val writeSnap = StreamingQueries.upsertSnapshotWriter(base)

      def dirBytes(p: String): Long = {
        val f = new java.io.File(p)
        if (!f.exists()) 0L
        else Option(f.listFiles()).toSeq.flatten.map(_.length()).sum
      }

      // synthetic batch b: batchRows events, keys uniform over the
      // keyspace via a deterministic hash; distinct event ids per batch
      def batch(bi: Long) =
        spark.range(batchRows).toDF("i").select(
          expr(s"pmod(hash(i, $bi), $nKeys)").cast("long").as("user_id"),
          (col("i") + lit(bi * batchRows)).as("event_id"),
          expr(s"concat('t', pmod(hash(i, $bi, 7), 5))").as("event_type"),
          expr(s"pmod(hash(i, $bi, 11), 10000)").cast("long").as("cents"),
          (lit(1704067200000L) + col("i") % 86400000L).as("ms"))

      (0 until nBatches).foreach { bi =>
        val (_, s, _) = ToolKit.phase { writeSnap(batch(bi.toLong), bi.toLong) }
        val vDir = s"$base/v$bi"
        val rows = spark.read.parquet(vDir).count()
        ToolKit.emit("metric" -> "snapshot_chain_scale_smoke", "batch" -> bi,
          "batch_rows" -> batchRows, "snapshot_keys" -> rows,
          "snapshot_bytes" -> dirBytes(vDir), "merge_s" -> s)
      }

      // vacuum: retire all but the newest 2 versions (st25's policy)
      val retire = 0 until (nBatches - 2)
      val reclaimed = retire.map(bi => dirBytes(s"$base/v$bi")).sum
      val (_, vacS, _) = ToolKit.phase {
        retire.foreach(bi => TempDirs.deleteNow(dir.resolve(s"v$bi")))
      }
      val headRows = spark.read.parquet(s"$base/v${nBatches - 1}").count()
      ToolKit.emit("metric" -> "snapshot_chain_scale_smoke", "vacuum" -> true,
        "retired_versions" -> retire.size, "reclaimed_bytes" -> reclaimed,
        "vacuum_s" -> vacS, "head_keys" -> headRows)
    }
}
