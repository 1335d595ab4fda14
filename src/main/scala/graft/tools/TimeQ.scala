package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Single-query profiler: times each named registry query on the
  * sf0.1 corpus in a FRESH session (two consecutive runs — cold-ish
  * and warm) through [[graft.Bench.timedNoop]], the loop Bench uses.
  * The tool that separates "the code path got slower" from "the bench
  * session's cache/ordering luck changed": run it at two commits and
  * compare warm runs. (Round-11 case study: d06/s11 looked 3× over the
  * quiet record in-session, but standalone warm times were identical at
  * the r10 and r11 commits — record variance, not a regression.)
  *
  * After the two `TIMEQ <name> run<i> <secs> s` lines it prints the warm
  * run's listener breakdown, so "where do the seconds go" questions
  * (per-iteration overhead vs compute, setup vs loop, micro-batch
  * machinery vs state) are answered with listener data instead of
  * guesses: one line per JOB (wall seconds, stage count, task count,
  * summed task time) and one per heavy STAGE (over 0.5 s of task time,
  * the 12 heaviest: task, GC and deserialize time).
  *
  * Usage: `sbt "runMain graft.tools.TimeQ d06_embedding_neardup ..."`
  * (tables from `SPARK_GRAFT_SF_DIR`, default the sf0.1 corpus).
  */
object TimeQ {

  private final case class JobRow(id: Int, desc: String, startNs: Long,
      stages: Int, var endNs: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L)
  private final case class StageRow(id: Int, name: String, var tasks: Int = 0,
      var taskMs: Long = 0L, var gcMs: Long = 0L, var deserMs: Long = 0L)

  /** Job and stage rows of the runs since the last [[Profile.clear]]. */
  private final class Profile extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new ConcurrentHashMap[Int, JobRow]()
    val stages = new ConcurrentHashMap[Int, StageRow]()

    def clear(): Unit = { jobs.clear(); stageToJob.clear(); stages.clear() }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val row = JobRow(e.jobId, desc, System.nanoTime(), e.stageIds.size)
      jobs.put(e.jobId, row)
      e.stageIds.foreach(stageToJob.put(_, row))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.put(e.stageInfo.stageId, StageRow(e.stageInfo.stageId, e.stageInfo.name))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Option(stageToJob.get(e.stageId)).foreach { r =>
          r.tasks += 1
          r.taskMs += m.executorRunTime
        }
        Option(stages.get(e.stageId)).foreach { s =>
          s.tasks += 1
          s.taskMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.deserMs += m.executorDeserializeTime
        }
      }

    def print(): Unit = {
      jobs.values().asScala.toSeq.sortBy(_.id).foreach { r =>
        val w = if (r.endNs > 0) (r.endNs - r.startNs) / 1e9 else -1.0
        println(f"  job=${r.id}%3d wall=$w%6.3fs stages=${r.stages}%2d " +
          f"tasks=${r.tasks}%4d taskTime=${r.taskMs / 1000.0}%7.2fs " +
          s"desc=${r.desc.take(60)}")
      }
      stages.values().asScala.toSeq.filter(_.taskMs > 500).sortBy(-_.taskMs)
        .take(12).foreach { s =>
          println(f"  STAGE ${s.id}%4d taskTime=${s.taskMs / 1000.0}%7.2fs " +
            f"gc=${s.gcMs / 1000.0}%5.2fs deser=${s.deserMs / 1000.0}%5.2fs " +
            f"tasks=${s.tasks}%4d name=${s.name.take(110)}")
        }
    }
  }

  def main(args: Array[String]): Unit = ToolKit.main("timeq") { spark =>
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val profile = new Profile
    spark.sparkContext.addSparkListener(profile)
    args.foreach { name =>
      (1 to 2).foreach { i =>
        profile.clear()
        val secs = graft.Bench.timedNoop(spark)(graft.SparkEntry.queries(name)(spark, dir))
        println(f"TIMEQ $name run$i $secs%.2f s")
      }
      // the listener bus is asynchronous: let it drain before reading
      Thread.sleep(500)
      profile.print()
    }
  }
}
