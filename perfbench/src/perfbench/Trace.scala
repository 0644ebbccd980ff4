package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * values; `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, trace: String, attrs: Map[String, Double] = Map.empty)

/** In-memory span store. When `enabled` is false every call is a no-op
  * apart from running the body, so the untraced run pays nothing but a
  * branch. Spans are written out once, at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Records `body` as a span named `name`; the body gets the span id so
    * it can parent children. */
  def span[T](name: String, parent: Long, trace: String)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, t0, System.nanoTime(), parent, trace))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Every span with its self time: its duration minus the part of its
    * interval that its children cover. */
  def withSelfMs: Seq[(Span, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.sortBy(_.start).map { s =>
      val covered = Stats.unionNanos(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s -> (s.end - s.start - covered) / 1e6
    }
  }

  /** Self time summed per span name. */
  def selfMsByName: Map[String, Double] =
    withSelfMs.groupBy(_._1.name).view.mapValues(_.map(_._2).sum).toMap

  /** Writes one JSON object per span. */
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, withSelfMs.map { case (s, self) =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "trace" -> s.trace,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ms" -> self, "attrs" -> s.attrs))
    }.asJava)
}

object Tracer {
  /** Local property that ties a Spark job to the benchmark span that
    * was open on the submitting thread. */
  val SpanKey = "perfbench.span"
  /** Set by Structured Streaming on every job of a micro-batch. */
  val BatchKey = "streaming.sql.batchId"
  /** Span id of the `addBatch` phase of micro-batch `b`, where the sink
    * runs; fixed so that jobs can name it as their parent before the
    * span itself is recorded. */
  def addBatchSpanId(b: Long): Long = (1L << 40) + b
}

/** A finished Spark job with the totals of its completed stages. */
final case class JobRecord(id: Int, start: Long, end: Long, span: Long,
    batch: Long, stages: Int, tasks: Int, taskMs: Long, inputBytes: Long,
    outputBytes: Long, shuffleBytes: Long)

/** Records every job and stage as spans under the benchmark span that
  * submitted it. Listener callbacks carry epoch milliseconds; they are
  * mapped onto the `nanoTime` axis the benchmark's own spans use. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val offsetNanos = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(epochMs: Long): Long = epochMs * 1000000L + offsetNanos

  private case class Open(start: Long, span: Long, batch: Long, spanId: Long)
  private val open = mutable.Map.empty[Int, Open]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTotals = mutable.Map.empty[Int, mutable.ArrayBuffer[StageInfo]]
  private val done = new ConcurrentLinkedQueue[JobRecord]()
  @volatile private var lastEvent = System.nanoTime()

  /** Finished jobs, once the asynchronous listener bus has delivered
    * every job end: no job open and no event for 200 ms (at most 5 s). */
  def settled(): Seq[JobRecord] = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
        (synchronized(open.nonEmpty) || System.nanoTime() - lastEvent < 200000000L))
      Thread.sleep(20)
    done.asScala.toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEvent = System.nanoTime()
    val props = Option(e.properties)
    def prop(k: String): Long = props.flatMap(p => Option(p.getProperty(k)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    open(e.jobId) = Open(toNanos(e.time), prop(Tracer.SpanKey),
      prop(Tracer.BatchKey), tracer.nextId())
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEvent = System.nanoTime()
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { job =>
      stageTotals.getOrElseUpdate(job, mutable.ArrayBuffer.empty) += info
      val parent = open.get(job).map(_.spanId).getOrElse(0L)
      val tm = info.taskMetrics
      val taskMs = if (tm == null) 0L else tm.executorRunTime
      tracer.add(Span(tracer.nextId(), "spark.stage",
        toNanos(info.submissionTime.getOrElse(0L)),
        toNanos(info.completionTime.getOrElse(0L)), parent, s"job-$job",
        Map("tasks" -> info.numTasks.toDouble, "task_ms" -> taskMs.toDouble)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEvent = System.nanoTime()
    open.remove(e.jobId).foreach { o =>
      val stages = stageTotals.remove(e.jobId).getOrElse(Nil).toSeq
      val ms = stages.flatMap(s => Option(s.taskMetrics))
      val rec = JobRecord(e.jobId, o.start, toNanos(e.time), o.span, o.batch,
        stages.size, stages.map(_.numTasks).sum,
        ms.map(_.executorRunTime).sum,
        ms.map(_.inputMetrics.bytesRead).sum,
        ms.map(_.outputMetrics.bytesWritten).sum,
        ms.map(_.shuffleWriteMetrics.bytesWritten).sum)
      done.add(rec)
      val parent = if (o.span > 0) o.span else if (o.batch >= 0) Tracer.addBatchSpanId(o.batch) else 0L
      tracer.add(Span(o.spanId, "spark.job", rec.start, rec.end,
        parent, if (o.batch >= 0) s"batch-${o.batch}" else s"job-${e.jobId}",
        Map("stages" -> rec.stages.toDouble, "tasks" -> rec.tasks.toDouble,
          "task_ms" -> rec.taskMs.toDouble)))
    }
  }
}

/** Spark totals over a set of jobs that ran inside a wall-clock window. */
object SparkTotals {
  def apply(jobs: Seq[JobRecord], wallNanos: Long, cores: Int): Map[String, Double] = {
    val taskS = jobs.map(_.taskMs).sum / 1000.0
    val wallS = wallNanos / 1e9
    val busy = Stats.unionNanos(jobs.map(j => (j.start, j.end))) / 1e9
    Map(
      "spark.driver_s" -> math.max(0.0, wallS - busy),
      "spark.task_s" -> taskS,
      "spark.util" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "spark.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> jobs.map(_.outputBytes).sum.toDouble)
  }

  def listen(sc: SparkContext, tracer: Tracer): Option[JobListener] =
    if (!tracer.enabled) None
    else { val l = new JobListener(tracer); sc.addSparkListener(l); Some(l) }
}
