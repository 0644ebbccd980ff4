package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): runs named
  * SparkEntry queries through the same noop-sink methodology as Bench,
  * with a SparkListener capturing per-query job/stage/task aggregates —
  * the local[N] stand-in for the Spark UI's stage table. Prints one line
  * per query: wall, #jobs, #stages, #tasks, task-time sum, shuffle
  * read/write bytes, input bytes, GC time. High job/stage counts at tiny
  * data = fixed-cost-bound; high shuffle bytes = a §2.3 target.
  *
  * When the filter selects a single query, the last rep also prints its
  * per-JOB breakdown — wall, gap since the previous job, stage and task
  * counts, call site — so high job counts can be attributed to specific
  * engine round-trips.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> [reps] [q1,q2,...]
  */
object QueryProfile {
  final case class Job(id: Int, desc: String, site: String, t0: Long,
    stages: Int, var t1: Long = 0L, var tasks: Int = 0)

  /** The one metrics listener: run-wide aggregates plus per-job records.
    * Callbacks and [[reset]] synchronize, so a reset between runs cannot
    * race a late event of the previous run on the listener-bus thread. */
  final class Trace extends SparkListener {
    var stages = 0
    var tasks = 0
    var taskTimeMs = 0L
    var gcMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var shufWriteRecords = 0L
    var inputB = 0L
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    // stageId → jobId from SparkListenerJobStart.stageInfos: attributing
    // completed stages to the latest job misattributes task counts under
    // concurrent jobs (AQE broadcast jobs, parallel actions)
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.job.description"),
        prop("callSite.short"), e.time, e.stageInfos.size)
      e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(_.t1 = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.tasks += e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        shufWriteRecords += m.shuffleWriteMetrics.recordsWritten
        inputB += m.inputMetrics.bytesRead
      }
    }
    def reset(): Unit = synchronized {
      stages = 0; tasks = 0; taskTimeMs = 0; gcMs = 0
      shufReadB = 0; shufWriteB = 0; shufWriteRecords = 0; inputB = 0
      jobs.clear(); stageJob.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = graft.Sessions.base()
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    // warm-up (uncounted) — JVM/codegen/parquet-footer startup
    spark.range(5000000L).selectExpr("sum(id * 2) AS s")
      .write.format("noop").mode("overwrite").save()
    graft.Tables.all.keys.foreach { t =>
      graft.Tables.read(spark, sfDir, t).write.format("noop").mode("overwrite").save()
    }
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n.takeWhile(_ != '_'))) }
    def mb(b: Long): String = f"${b / 1024.0 / 1024.0}%.1f"
    println(f"${"query"}%-6s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"ttime_s"}%8s ${"gc_s"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"in_MB"}%7s")
    for (_ <- 0 until reps) {
      names.foreach { case (name, fn) =>
        val id = name.takeWhile(_ != '_')
        trace.reset()
        spark.sparkContext.setJobDescription(id)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events are async; give the bus a moment to drain
          // (listenerBus.waitUntilEmpty is private[spark]) — outside the
          // timed region, so it only affects counter completeness
          Thread.sleep(200)
          println(f"$id%-6s $dt%7.2f ${trace.jobs.size}%5d ${trace.stages}%6d ${trace.tasks}%6d ${trace.taskTimeMs / 1e3}%8.2f ${trace.gcMs / 1e3}%6.2f ${mb(trace.shufReadB)}%7s ${mb(trace.shufWriteB)}%7s ${mb(trace.inputB)}%7s")
        } catch { case e: Throwable =>
          println(s"$id FAILED: ${e.getMessage}")
        }
        spark.sparkContext.setJobDescription(null)
        spark.catalog.clearCache()
      }
    }
    if (names.size == 1) {
      var prevEnd = 0L
      trace.jobs.values.foreach { j =>
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = j.t1
        println(f"  job ${j.id}%3d ${(j.t1 - j.t0) / 1e3}%6.2fs gap=$gap%5.2fs stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}%-40s ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
