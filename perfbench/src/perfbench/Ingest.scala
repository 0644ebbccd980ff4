package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.LimitHash
import graft.streaming._

/** An ingest workload: the producer's call shape and rate, the bursts,
  * and the sink. Both use the reference's batcher settings: a 1 s tick,
  * a 10,000-row write cap and a 10,000-row producer buffer. */
final case class IngestSpec(rowsPerCall: Int, periodMs: Int, burstRows: Int, bursts: Int,
    jdbc: Boolean) {
  val config: BatcherConfig = BatcherConfig(1.second, 10000, bufferCap = 10000)
  /** Warm-up calls: one tick's worth of the steady load, so the first
    * measured batches do not pay for compiling the write path. */
  val warmCalls: Int = 1000 / periodMs
}

/** One `BatchSink.write` as the decorator saw it. `rowsAfter` is the
  * sink's visible row count right after the write, or -1 when the sink
  * can only be counted after the run. */
final case class Write(batchId: Long, start: Long, end: Long, rowsAfter: Long)

/** Decorator that times each write of the wrapped sink. Jobs the write
  * submits carry the write's span id through a thread-local property.
  * Writes run on the driver, inside the stream's `foreachBatch`. */
final class TimedSink(inner: BatchSink, visibleRows: () => Long, tracer: Tracer)
    extends BatchSink {
  @transient lazy val writes = new ConcurrentLinkedQueue[(Write, Long)]()

  override def write(df: DataFrame, batchId: Long, maxBatchCap: Int): Unit = {
    val sc = df.sparkSession.sparkContext
    val id = if (tracer.enabled) tracer.nextId() else 0L
    if (tracer.enabled) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try inner.write(df, batchId, maxBatchCap)
    finally if (tracer.enabled) sc.setLocalProperty(Tracer.SpanKey, null)
    val t1 = System.nanoTime()
    writes.add((Write(batchId, t0, t1, visibleRows()), id))
  }
}

/** Where an ingest run lands, and how to read it back. */
sealed trait Target {
  def sink: BatchSink
  /** Rows visible right now, or -1 if this target is counted after the run. */
  def visibleRows(): Long
  /** Rows delivered by each batch, for targets counted after the run. */
  def rowsByBatch(spark: SparkSession): Map[Long, Long]
  /** (count, distinct keys, sum of amount) of everything written. */
  def totals(spark: SparkSession): (Long, Long, Long)
  /** Rows stored under the golden row's key. */
  def lookup(spark: SparkSession, key: String): Seq[LimitHash]
  /** Data files per batch with their sizes; empty for a warehouse. */
  def files(batchIds: Set[Long]): Map[Long, Seq[Long]]
  def close(): Unit
}

final class ParquetTarget(dir: Path) extends Target {
  val sink: BatchSink = new ParquetBatchSink(dir.toString)
  def visibleRows(): Long = -1L
  // read back once, after the run: one file per row makes repeated scans slow
  private var stored: Option[Seq[(Long, LimitHash)]] = None
  private def all(spark: SparkSession): Seq[(Long, LimitHash)] = stored.getOrElse {
    import spark.implicits._
    val rows = ParquetBatchSink.readAll(spark, dir.toString)
      .select(col("batch_id").cast("long"), struct(col("user_id"), col("amount"),
        col("msg"), col("sha256sum")))
      .as[(Long, LimitHash)].collect().toSeq
    stored = Some(rows)
    rows
  }
  def rowsByBatch(spark: SparkSession): Map[Long, Long] =
    all(spark).groupBy(_._1).view.mapValues(_.size.toLong).toMap
  def totals(spark: SparkSession): (Long, Long, Long) = {
    val rows = all(spark).map(_._2)
    (rows.size.toLong, rows.map(_.sha256sum).distinct.size.toLong, rows.map(_.amount).sum)
  }
  def lookup(spark: SparkSession, key: String): Seq[LimitHash] =
    all(spark).map(_._2).filter(_.sha256sum == key)
  def files(batchIds: Set[Long]): Map[Long, Seq[Long]] = batchIds.toSeq.map { b =>
    val d = dir.resolve(s"batch_id=$b")
    b -> (if (!Files.isDirectory(d)) Nil
      else Files.list(d).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size(_)).toSeq)
  }.toMap
  def close(): Unit = ()
}

/** Embedded in-memory Derby standing in for the reference's ClickHouse.
  * The target is created up front keyed on `sha256sum`, as the
  * reference's table is ordered by it; without the key every MERGE scans
  * the whole target. */
final class DerbyTarget(name: String) extends Target {
  private val url = s"jdbc:derby:memory:$name;create=true"
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // Derby maps StringType to CLOB, which cannot be compared or keyed
    p.setProperty("createTableColumnTypes", "user_id VARCHAR(64), sha256sum VARCHAR(64)")
    p
  }
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
  private val conn = java.sql.DriverManager.getConnection(url, props)
  locally {
    val st = conn.createStatement()
    try st.executeUpdate("""CREATE TABLE limits_hashes ("user_id" VARCHAR(64),
      "amount" BIGINT NOT NULL, "msg" BLOB, "sha256sum" VARCHAR(64) NOT NULL PRIMARY KEY)""")
    finally st.close()
  }
  val sink: BatchSink = new StagedJdbcBatchSink(url, "limits_hashes", Seq("sha256sum"), props)

  private def query[T](sql: String, args: String*)(read: java.sql.ResultSet => T): Seq[T] =
    synchronized {
      val st = conn.prepareStatement(sql)
      try {
        args.zipWithIndex.foreach { case (a, i) => st.setString(i + 1, a) }
        val rs = st.executeQuery()
        val out = Iterator.continually(rs).takeWhile(_.next()).map(read).toList
        rs.close(); out
      } finally st.close()
    }

  def visibleRows(): Long = query("SELECT COUNT(*) FROM limits_hashes")(_.getLong(1)).head
  def rowsByBatch(spark: SparkSession): Map[Long, Long] = Map.empty
  def totals(spark: SparkSession): (Long, Long, Long) = query(
    """SELECT COUNT(*), COUNT(DISTINCT "sha256sum"), COALESCE(SUM("amount"), 0)
       FROM limits_hashes""")(rs => (rs.getLong(1), rs.getLong(2), rs.getLong(3))).head
  def lookup(spark: SparkSession, key: String): Seq[LimitHash] = query(
    """SELECT "user_id", "amount", "msg", "sha256sum" FROM limits_hashes
       WHERE "sha256sum" = ?""", key)(rs =>
    LimitHash(rs.getString(1), rs.getLong(2), rs.getBytes(3), rs.getString(4)))
  def files(batchIds: Set[Long]): Map[Long, Seq[Long]] = Map.empty
  def close(): Unit = {
    conn.close()
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
  }
}

/** A started pipeline: producer buffer → batcher query → timed sink. */
final class Pipeline(val spark: SparkSession, val spec: IngestSpec, val target: Target,
    val ingest: AsyncIngest[LimitHash], val sink: TimedSink, val query: StreamingQuery,
    listener: StreamingQueryListener) {
  /** Rows offered so far, in enqueue order. */
  val offered = scala.collection.mutable.ArrayBuffer.empty[LimitHash]

  def enqueue(rows: Seq[LimitHash]): Unit = Ingest.enqueue(ingest, spec, rows)

  def close(): Unit = {
    query.stop()
    spark.streams.removeListener(listener)
    target.close()
  }
}

object Ingest {
  val specs: Map[String, IngestSpec] = Map(
    // the reference producer: one saveAsync per row every 20 ms
    // its one-batch drain is short and noisy, so it is timed three times
    "ingest_rows" -> IngestSpec(rowsPerCall = 1, periodMs = 20, burstRows = 300, bursts = 3,
      jdbc = false),
    // the reference's batch-INSERT path: 500-row chunks every 250 ms
    "ingest_chunks" -> IngestSpec(rowsPerCall = 500, periodMs = 250, burstRows = 20000,
      bursts = 1, jdbc = true))

  /** Set-up of one repetition: a fresh target and pipeline, warmed by
    * one micro-batch of the steady load's shape. The warm-up rows are
    * enqueued before the query starts, so its first trigger takes them
    * without waiting for a tick. */
  def prepare(spark: SparkSession, spec: IngestSpec, src: RowSource, work: Path,
      rep: Int, tracer: Tracer): Pipeline = {
    import spark.implicits._
    val target =
      if (spec.jdbc) new DerbyTarget(s"perfbench$rep")
      else new ParquetTarget(Files.createDirectories(work.resolve(s"sink$rep")))
    val sink = new TimedSink(target.sink, () => target.visibleRows(), tracer)
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext, bufferCap = spec.config.bufferCap)
    val warm = src.rows(-1000000L * (rep + 1), spec.warmCalls * spec.rowsPerCall)
    warm.grouped(spec.rowsPerCall).foreach(c => enqueue(ingest, spec, c.toSeq))
    val query = new MicroBatcher(spec.config, sink)
      .start(ingest.toDS(), work.resolve(s"checkpoint$rep").toString)
    val p = new Pipeline(spark, spec, target, ingest, sink, query, ingest.bindTo(query))
    p.offered ++= warm
    query.processAllAvailable()
    p
  }

  def enqueue(ingest: AsyncIngest[LimitHash], spec: IngestSpec, rows: Seq[LimitHash]): Unit =
    if (spec.rowsPerCall == 1) rows.foreach(ingest.saveAsync) else ingest.saveAllAsync(rows)

  /** First wall-clock instant at `phaseMs` past a whole second, at
    * least `minAheadMs` from now, on the `nanoTime` axis. The batcher's
    * ticks fall on whole seconds, so fixing the phase keeps the
    * wait-for-tick part of latency the same from run to run. */
  private def alignedNanos(phaseMs: Long, minAheadMs: Long): Long = {
    val nowMs = System.currentTimeMillis()
    val nowNs = System.nanoTime()
    var at = (nowMs / 1000) * 1000 + phaseMs
    while (at < nowMs + minAheadMs) at += 1000
    nowNs + (at - nowMs) * 1000000L
  }

  def run(p: Pipeline, src: RowSource, seconds: Int, cores: Int, tracer: Tracer,
      jobs: => Seq[JobRecord]): Result = {
    val spec = p.spec
    val warmRows = p.offered.size
    val warmWrites = p.sink.writes.size
    // steady phase: the golden rows lead, then seeded rows, on schedule
    val nSteady = seconds * 1000 / spec.periodMs
    val steadyRows = RowSource.golden ++
      src.rows(0L, nSteady * spec.rowsPerCall - RowSource.golden.size)
    val t0 = alignedNanos(phaseMs = 100, minAheadMs = 200)
    val jitter = src.jitterNanos(nSteady)
    val due = Array.tabulate(nSteady)(k => t0 + k * spec.periodMs * 1000000L + jitter(k))
    p.offered ++= steadyRows
    val steady = OpenLoop.run(due, spec.rowsPerCall, warmRows, tracer, "steady") { k =>
      p.enqueue(steadyRows.slice(k * spec.rowsPerCall, (k + 1) * spec.rowsPerCall))
      p.ingest.inFlight
    }
    p.query.processAllAvailable()

    // bursts: every call of a burst due at once, 150 ms before a tick;
    // each burst is drained before the next
    val nBurst = spec.burstRows / spec.rowsPerCall
    val bursts = (0 until spec.bursts).map { b =>
      val firstRow = p.offered.size
      val rows = src.rows((nSteady + b * nBurst).toLong * spec.rowsPerCall, spec.burstRows)
      val due = alignedNanos(phaseMs = 850, minAheadMs = 100)
      p.offered ++= rows
      val calls = OpenLoop.run(Array.fill(nBurst)(due), spec.rowsPerCall, firstRow, tracer,
          s"burst$b") { k =>
        p.enqueue(rows.slice(k * spec.rowsPerCall, (k + 1) * spec.rowsPerCall))
        p.ingest.inFlight
      }
      p.query.processAllAvailable()
      (due, firstRow + rows.size - 1, calls)
    }
    val end = System.nanoTime()
    val permitDrift = settledDrift(p.ingest)

    // when did each row become visible? the sink is FIFO over calls
    val writes = p.sink.writes.asScala.toSeq.sortBy(_._1.batchId)
    val batchRows = p.target.rowsByBatch(p.spark)
    val cumulative = writes.map(_._1).scanLeft(0L) { (acc, w) =>
      if (w.rowsAfter >= 0) w.rowsAfter else acc + batchRows.getOrElse(w.batchId, 0L)
    }.tail
    val visibleEnds = writes.map(_._1.end).toArray
    val cum = cumulative.toArray
    def visibleAt(row: Int): Option[Long] = {
      val i = cum.indexWhere(_ > row)
      if (i < 0) None else Some(visibleEnds(i))
    }

    val checks = Checks.ingest(p)
    val steadyLat = steady.toSeq.flatMap { c =>
      visibleAt(c.firstRow + c.rows - 1).map(v => Seq.fill(c.rows)((v - c.due) / 1e6))
        .getOrElse(Nil)
    }
    val drains = bursts.map { case (due, lastRow, _) =>
      visibleAt(lastRow).map(v => (v - due) / 1e9).getOrElse(Double.NaN)
    }
    val passS = if (drains.exists(_.isNaN)) Double.NaN else Stats.median(drains)
    val e2e = Map(
      "visible_p50_ms" -> pct(steadyLat, 50),
      "visible_p99_ms" -> pct(steadyLat, 99),
      "pass_s" -> passS)
    val detail = Map[String, Any](
      "visible_samples" -> steadyLat.size,
      "drain_rows_per_s" -> spec.burstRows / passS,
      "burst_drains_s" -> drains,
      "burst_rows" -> spec.burstRows,
      "steady_rows" -> steadyRows.size,
      "rows_offered" -> p.offered.size)

    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val windowStart = steady.head.due
        val measured = writes.drop(warmWrites)
        val batchIds = measured.map(_._1.batchId).toSet
        val progress = p.query.recentProgress.toSeq
          .filter(pr => batchIds(pr.batchId) && pr.durationMs.containsKey("addBatch"))
        addBatchSpans(tracer, progress, measured)
        val windowJobs = jobs.filter(j => j.start >= windowStart && j.start <= end)
        val delivered = cum.indices.drop(warmWrites)
          .map(i => (cum(i) - (if (i == 0) 0L else cum(i - 1))).toDouble)
        val files = p.target.files(batchIds)
        val nFiles = files.values.map(_.size).sum
        val calls = steady ++ bursts.flatMap(_._3)
        val writeSpans = measured.map(_._2).toSet
        Map(
          "ingest.enqueue_calls" -> calls.length.toDouble,
          "ingest.enqueue_wait_ms" -> calls.map(_.waitNanos).sum / 1e6,
          "ingest.enqueue_wait_p99_ms" -> pct(calls.toSeq.map(_.waitNanos / 1e6), 99),
          "ingest.in_flight_max_rows" -> calls.map(_.inFlight).max.toDouble,
          "ingest.permit_drift" -> permitDrift.toDouble,
          "ingest.generator_late_ms" -> steady.map(_.lateNanos).max / 1e6,
          "batcher.batches" -> progress.size.toDouble,
          "batcher.rows_per_batch_p50" -> pct(delivered, 50),
          "batcher.trigger_ms_p50" -> phase(progress, "triggerExecution", 50),
          "batcher.trigger_ms_p99" -> phase(progress, "triggerExecution", 99),
          "batcher.latest_offset_ms_p50" -> phase(progress, "latestOffset", 50),
          "batcher.query_planning_ms_p50" -> phase(progress, "queryPlanning", 50),
          "batcher.add_batch_ms_p50" -> phase(progress, "addBatch", 50),
          "batcher.wal_commit_ms_p50" -> phase(progress, "walCommit", 50),
          "batcher.commit_offsets_ms_p50" -> phase(progress, "commitOffsets", 50),
          "batcher.idle_ms" -> math.max(0.0, (end - windowStart) / 1e6 -
            progress.map(_.durationMs.get("triggerExecution").doubleValue).sum),
          "batcher.jobs_per_batch" -> perBatch(windowJobs, batchIds, _ => 1.0),
          "batcher.tasks_per_batch" -> perBatch(windowJobs, batchIds, _.tasks.toDouble),
          "sink.write_ms_p50" -> pct(measured.map(w => (w._1.end - w._1.start) / 1e6), 50),
          "sink.write_ms_p99" -> pct(measured.map(w => (w._1.end - w._1.start) / 1e6), 99),
          "sink.jobs_per_write" ->
            windowJobs.count(j => writeSpans(j.span)).toDouble / math.max(1, measured.size),
          "sink.files_per_batch" -> pct(files.values.map(_.size.toDouble).toSeq, 50),
          "sink.rows_per_file" -> (if (nFiles == 0) 0.0 else delivered.sum / nFiles),
          "sink.bytes_written" -> files.values.flatten.sum.toDouble
        ) ++ SparkTotals(windowJobs, end - windowStart, cores)
      }
    Result(e2e, detail, layers, checks)
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)

  private def phase(progress: Seq[StreamingQueryProgress], key: String, p: Double): Double =
    pct(progress.flatMap(pr => Option(pr.durationMs.get(key)).map(_.doubleValue)), p)

  private def perBatch(jobs: Seq[JobRecord], batchIds: Set[Long],
      f: JobRecord => Double): Double =
    pct(batchIds.toSeq.map(b => jobs.filter(_.batch == b).map(f).sum), 50)

  /** The buffer's permits are released by a progress listener, which runs
    * after `processAllAvailable` returns; wait until the gauge settles. */
  private def settledDrift(ingest: AsyncIngest[LimitHash]): Int = {
    var last = ingest.inFlight
    var stableSince = System.nanoTime()
    val deadline = stableSince + 3000000000L
    while (System.nanoTime() - stableSince < 300000000L && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val now = ingest.inFlight
      if (now != last) { last = now; stableSince = System.nanoTime() }
    }
    -last
  }

  /** One `batcher.batch` span per micro-batch from its progress report,
    * with its phases laid out in execution order, and the timed writes
    * as `sink.write` children of the `addBatch` phase. */
  private def addBatchSpans(tracer: Tracer, progress: Seq[StreamingQueryProgress],
      writes: Seq[(Write, Long)]): Unit = {
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    progress.foreach { pr =>
      val id = tracer.nextId()
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L + offset
      val total = pr.durationMs.get("triggerExecution").longValue * 1000000L
      tracer.add(Span(id, "batcher.batch", start, start + total, 0L, s"batch-${pr.batchId}",
        Map("rows_in" -> pr.numInputRows.toDouble)))
      var t = start
      order.foreach { k =>
        Option(pr.durationMs.get(k)).foreach { d =>
          val phaseId = if (k == "addBatch") Tracer.addBatchSpanId(pr.batchId) else tracer.nextId()
          tracer.add(Span(phaseId, s"batcher.$k", t, t + d.longValue * 1000000L, id,
            s"batch-${pr.batchId}"))
          t += d.longValue * 1000000L
        }
      }
    }
    writes.foreach { case (w, spanId) =>
      tracer.add(Span(spanId, "sink.write", w.start, w.end, Tracer.addBatchSpanId(w.batchId),
        s"batch-${w.batchId}"))
    }
  }
}

/** Outcome of one measured run, before the driver-facing rendering. */
final case class Result(e2e: Map[String, Double], detail: Map[String, Any],
    layers: Map[String, Double], checks: CheckResult)

final case class CheckResult(attempted: Long, failed: Long, errors: Seq[String])

object Checks {
  /** Conservation and golden-row checks over everything the run offered:
    * every row lands exactly once, amounts sum up, and each golden row is
    * retrievable by full-field equality exactly once. */
  def ingest(p: Pipeline): CheckResult = {
    val (n, distinct, amount) = p.target.totals(p.spark)
    val offered = p.offered.size.toLong
    val lost = math.max(0L, offered - distinct)
    val dup = n - distinct
    val errors = Seq.newBuilder[String]
    if (lost > 0) errors += s"$lost of $offered offered rows not visible after drain"
    if (dup > 0) errors += s"$dup rows stored more than once"
    val want = p.offered.map(_.amount).sum
    if (amount != want) errors += s"sum(amount) = $amount, expected $want"
    val goldenMisses = RowSource.golden.count { g =>
      val got = p.target.lookup(p.spark, g.sha256sum)
      val equal = got.count(r => r.user_id == g.user_id && r.amount == g.amount &&
        sameBytes(r.msg, g.msg))
      if (got.size != 1 || equal != 1)
        errors += s"golden row ${g.user_id}: ${got.size} rows under its key, $equal equal"
      got.size != 1 || equal != 1
    }
    CheckResult(offered, lost + dup + goldenMisses, errors.result())
  }

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean =
    (a == null && b == null) || (a != null && b != null && java.util.Arrays.equals(a, b))
}
