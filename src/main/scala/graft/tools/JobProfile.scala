package graft.tools

import org.apache.spark.scheduler._

/** Measurement tool (guide §1 / §7): runs registry queries and prints a
  * per-JOB breakdown — wall seconds, stage count, task count, summed
  * task time — so "where do the seconds go" questions (per-iteration
  * overhead vs compute, setup vs loop, micro-batch machinery vs state)
  * are answered with listener data instead of guesses. Two consecutive
  * runs per query; read the second (JIT-warm, cache-cold — the tool
  * clears the catalog cache between runs like Bench/TimeQ do).
  *
  * Usage: `sbt "runMain graft.tools.JobProfile g01_pagerank ..."`.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Catalog.localSession("jobprofile")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    final case class JobRow(id: Int, desc: String, startNs: Long,
      var endNs: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var taskMs: Long = 0L)
    final case class StageRow(id: Int, name: String, var tasks: Int = 0,
      var taskMs: Long = 0L, var gcMs: Long = 0L, var deserMs: Long = 0L)
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[JobRow]())
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageRows = new java.util.concurrent.ConcurrentHashMap[Int, StageRow]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val row = JobRow(e.jobId,
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), System.nanoTime())
        byId.put(e.jobId, row); jobs.add(row)
        e.stageIds.foreach(sid => stageToJob.put(sid, row))
        row.stages += e.stageIds.size
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = byId.get(e.jobId); if (r != null) r.endNs = System.nanoTime()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageRows.put(e.stageInfo.stageId,
          StageRow(e.stageInfo.stageId, e.stageInfo.name))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val r = stageToJob.get(e.stageId)
        if (r != null && e.taskMetrics != null) {
          r.tasks += 1
          r.taskMs += e.taskMetrics.executorRunTime
        }
        val s = stageRows.get(e.stageId)
        if (s != null && e.taskMetrics != null) {
          s.tasks += 1
          s.taskMs += e.taskMetrics.executorRunTime
          s.gcMs += e.taskMetrics.jvmGCTime
          s.deserMs += e.taskMetrics.executorDeserializeTime
        }
      }
    }
    args.foreach { name =>
      (1 to 2).foreach { i =>
        jobs.clear(); byId.clear(); stageToJob.clear(); stageRows.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // drain the async listener bus before reading the rows
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val rows = jobs.asScala.toSeq
        println(f"JOBPROFILE $name run$i wall=$wall%.2fs jobs=${rows.size}")
        if (i == 2) {
          rows.foreach { r =>
            val w = if (r.endNs > 0) (r.endNs - r.startNs) / 1e9 else -1.0
            println(f"  job=${r.id}%3d wall=$w%6.3fs stages=${r.stages}%2d " +
              f"tasks=${r.tasks}%4d taskTime=${r.taskMs / 1000.0}%7.2fs " +
              s"desc=${r.desc.take(60)}")
          }
          val heavy = stageRows.values().asScala.toSeq
            .filter(_.taskMs > 500).sortBy(-_.taskMs)
          heavy.take(12).foreach { s =>
            println(f"  STAGE ${s.id}%4d taskTime=${s.taskMs / 1000.0}%7.2fs " +
              f"gc=${s.gcMs / 1000.0}%5.2fs deser=${s.deserMs / 1000.0}%5.2fs " +
              f"tasks=${s.tasks}%4d name=${s.name.take(110)}")
          }
        }
        spark.catalog.clearCache()
        System.gc()
      }
    }
    spark.stop()
  }
}
