package graft

import graft.streaming.StreamingQueries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Restart-safety proof for the idempotent lake sink: a replayed
  * micro-batch (Structured Streaming re-delivers the last uncommitted
  * batch after a failure) must not duplicate rows, and a stream
  * RESTART from the same checkpoint must continue exactly-once into
  * the same output table.
  */
class StreamingSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): Path =
    TempDirs.track(Files.createTempDirectory(prefix))

  test("idempotentParquetBatchWriter: replaying a batch id rewrites, " +
    "never appends") {
    val out = tmp("graft-idem-out")
    val w = StreamingQueries.idempotentParquetBatchWriter(out.toString)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    w(batch, 0L)
    w(batch, 0L) // replay after simulated failure
    val got = spark.read.parquet(out.toString)
    assert(got.count() === 2)
    assert(got.select(sum(col("id"))).first().getLong(0) === 3L)
    // a later batch lands in its own partition
    w(Seq((3L, "c")).toDF("id", "v"), 1L)
    val all = spark.read.parquet(out.toString)
    assert(all.count() === 3)
    // partition-column inference types batch_id as int — cast to read
    assert(all.select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet === Set(0L, 1L))
  }

  test("stream restart from the same checkpoint continues exactly-once") {
    val in = tmp("graft-idem-in")
    val out = tmp("graft-idem-out2")
    val ckpt = tmp("graft-idem-ckpt")
    val schema = "id LONG, v STRING"
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(StreamingQueries.idempotentParquetBatchWriter(out.toString))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(in.toString)
    run()
    assert(spark.read.parquet(out.toString).count() === 2)
    // restart: new input appears; the old batches are NOT re-emitted
    Seq((3L, "c")).toDF("id", "v")
      .write.mode("append").parquet(in.toString)
    run()
    val got = spark.read.parquet(out.toString)
    assert(got.count() === 3)
    assert(got.select(sum(col("id"))).first().getLong(0) === 6L)
    // and a second no-new-data restart changes nothing
    run()
    assert(spark.read.parquet(out.toString).count() === 3)
  }
}
