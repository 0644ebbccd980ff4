package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Batcher correctness, mirroring the reference's test strategy
  * (SURVEY.md §5):
  *  - oracle #1, conservation of rows over a (rows, interval, cap) sweep
  *    (`hashes_test.go:78-134`, cases at `hashes_test.go:87-113`)
  *  - oracle #2, golden-row full-field retrievability
  *    (`hashes_test.go:136-189`)
  *  - plus what the reference could not test: effectively-once delivery
  *    under an injected flush failure (its `isSent` was racy at-most-once).
  */
class BatcherSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.base("local[4]", 4)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Spark jobs and tasks per micro-batch, keyed by the query and batch
    * ids the stream sets as job properties on every job a batch submits. */
  private final class BatchJobs extends SparkListener {
    private val counts = new ConcurrentHashMap[(String, String), Int]()
    private val taskCounts = new ConcurrentHashMap[(String, String), Int]()
    private def batchOf(props: java.util.Properties) = for {
      p <- Option(props)
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } yield (q, b)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      batchOf(e.properties).foreach(counts.merge(_, 1, _ + _))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      batchOf(e.properties).foreach(taskCounts.merge(_, e.stageInfo.numTasks, _ + _))
    private def forQuery(m: ConcurrentHashMap[(String, String), Int],
        q: StreamingQuery): Map[String, Int] = m.asScala.collect {
      case ((id, b), n) if id == q.id.toString => b -> n
    }.toMap
    def of(q: StreamingQuery): Map[String, Int] = forQuery(counts, q)
    def tasksOf(q: StreamingQuery): Map[String, Int] = forQuery(taskCounts, q)
  }

  /** The `amount` column of every parquet file under `dir`, each in the
    * order the file stores its rows. */
  private def amountsPerFile(dir: String): Seq[Seq[Long]] = {
    import spark.implicits._
    Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
      .map(f => spark.read.parquet(f).select("amount").as[Long].collect().toSeq)
  }

  private def perRowRows(n: Int) =
    (0 until n).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i"))

  private def runConservation(rows: Int, interval: FiniteDuration, cap: Int,
      chunkSize: Int): Long = {
    import spark.implicits._
    val outDir = tmp("cons_out")
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    val batcher = new MicroBatcher(BatcherConfig(interval, cap), new ParquetBatchSink(outDir))
    val jobs = new BatchJobs
    spark.sparkContext.addSparkListener(jobs)
    val q = batcher.start(ingest.toDS(), tmp("cons_ck"))
    val rnd = new Random(42)
    (0 until rows).map { i =>
      LimitHash(s"user_${i % 97}", i.toLong, Array[Byte]((i % 127).toByte), f"hash_$i%07d")
    }.grouped(chunkSize).foreach { chunk =>
      ingest.saveAllAsync(chunk)
      if (rnd.nextInt(4) == 0) Thread.sleep(1) // producer jitter (hashes_test.go:215)
    }
    q.processAllAvailable()
    q.stop()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    // the flush reads each micro-batch once: the sink's write is its only job
    val perBatch = jobs.of(q)
    assert(perBatch.nonEmpty && perBatch.values.forall(_ == 1),
      s"jobs per micro-batch: $perBatch")
    ParquetBatchSink.readAll(spark, outDir).count()
  }

  // Trigger-space sweep — the reference's parametric cases scaled to CI
  // time (regimes from FIXTURES.md A.3: mixed / tick-only / size-only).
  test("conservation: mixed regime (fast tick, small cap)") {
    assert(runConservation(20000, 50.millis, 90, 1000) === 20000L)
  }
  test("conservation: tick-dominated (huge cap)") {
    assert(runConservation(5000, 50.millis, 900000, 500) === 5000L)
  }
  test("conservation: size-dominated (long tick)") {
    assert(runConservation(2000, 2.seconds, 100, 200) === 2000L)
  }
  test("conservation: reference-scale load (100k rows, hashes_test.go:88-92)") {
    assert(runConservation(100000, 50.millis, 90, 5000) === 100000L)
  }
  test("conservation: tiny loads") {
    assert(runConservation(50, 2.millis, 10, 7) === 50L)
    assert(runConservation(189, 10.millis, 6, 11) === 189L)
  }

  test("size cap bounds every written file (the semantic the reference's maxBatchCap protects)") {
    import spark.implicits._
    val cap = 100
    val rows = perRowRows(2500)
    // one 2,500-row block, then 2,500 one-row blocks that the micro-batch
    // coalesces into multi-row splits the sink must still cut at cap
    Seq[AsyncIngest[LimitHash] => Unit](_.saveAllAsync(rows), i => rows.foreach(i.saveAsync))
      .foreach { enqueue =>
        val outDir = tmp("cap_out")
        val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
        enqueue(ingest)
        val batcher = new MicroBatcher(BatcherConfig(100.millis, cap), new ParquetBatchSink(outDir))
        val q = batcher.start(ingest.toDS(), tmp("cap_ck"))
        q.processAllAvailable()
        q.stop()
        // every physical parquet file holds <= cap rows
        val perFile = spark.read.parquet(s"$outDir/batch_id=*")
          .select(input_file_name().as("f")).groupBy("f").count()
          .agg(max("count")).head().getLong(0)
        assert(perFile <= cap)
        assert(ParquetBatchSink.readAll(spark, outDir).count() === 2500L)
      }
  }

  test("tick-OR-size parity: one trigger drains an arbitrarily large burst in cap-bounded units") {
    import spark.implicits._
    val outDir = tmp("burst_out")
    val cap = 100
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    // burst of 50×cap rows queued BEFORE the first tick
    ingest.saveAllAsync((0 until 5000).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i")))
    val batcher = new MicroBatcher(BatcherConfig(100.millis, cap), new ParquetBatchSink(outDir))
    val q = batcher.start(ingest.toDS(), tmp("burst_ck"))
    q.processAllAvailable()
    q.stop()
    // the whole backlog lands in ONE micro-batch — the latency bound is
    // one tick independent of burst size (the reference's fixed-cap
    // accumulator would need 50 sequential flushes); write units still ≤ cap
    val batchDirs = Files.list(java.nio.file.Paths.get(outDir)).toArray
      .map(_.toString).filter(_.contains("batch_id="))
    assert(batchDirs.length === 1, s"burst spread over ${batchDirs.length} micro-batches")
    val perFile = spark.read.parquet(s"$outDir/batch_id=*")
      .select(input_file_name().as("f")).groupBy("f").count()
      .agg(max("count")).head().getLong(0)
    assert(perFile <= cap)
    assert(ParquetBatchSink.readAll(spark, outDir).count() === 5000L)
  }

  /** Runs `enqueue` before the query starts, so every row lands in
    * batch 0; returns batch 0's task count and each written file's
    * `amount`s. */
  private def firstBatch(enqueue: AsyncIngest[LimitHash] => Unit): (Int, Seq[Seq[Long]]) = {
    import spark.implicits._
    val outDir = tmp("split_out")
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    enqueue(ingest)
    val batcher = new MicroBatcher(BatcherConfig(50.millis, 10000), new ParquetBatchSink(outDir))
    val jobs = new BatchJobs
    spark.sparkContext.addSparkListener(jobs)
    val q = batcher.start(ingest.toDS(), tmp("split_ck"))
    q.processAllAvailable()
    q.stop()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    (jobs.tasksOf(q).getOrElse("0", 0), amountsPerFile(s"$outDir/batch_id=0"))
  }

  test("a per-row producer's micro-batch reads as at most one split per core, in enqueue order") {
    val cores = spark.sparkContext.defaultParallelism
    val (tasks, files) = firstBatch(i => perRowRows(200).foreach(i.saveAsync))
    assert(tasks > 0 && tasks <= cores, s"tasks in batch 0: $tasks (cores $cores)")
    assert(files.nonEmpty && files.size <= cores, s"files in batch 0: ${files.size}")
    // each file is one contiguous ascending run of enqueue order, and the
    // runs are the batch's blocks cut into equal neighbouring ranges
    files.foreach { a =>
      assert(a === (a.head until a.head + a.size), s"file rows out of enqueue order: $a")
    }
    assert(files.sortBy(_.head) ===
      (0 until cores).map(g => (g * 200L / cores) until ((g + 1) * 200L / cores)))
  }

  test("a micro-batch with no more blocks than cores reads one split per block") {
    val (tasks, files) = firstBatch { i =>
      i.saveAllAsync(perRowRows(5000))
      i.saveAllAsync(perRowRows(5000))
    }
    assert(tasks === 2)
    assert(files.map(_.size).sorted === Seq(5000, 5000))
  }

  test("golden rows: full-field retrievability, count == 1 each (hashes_test.go:191-203)") {
    import spark.implicits._
    val outDir = tmp("gold_out")
    val fixtures = Seq(
      LimitHash("test_user_001_Bchs76uZfZ", 777L, "some data".getBytes("UTF-8"), "abc123"),
      LimitHash("test_user_002", 0L, null, "def456"),
      LimitHash("test_user_003", 4294967295L, Array[Byte](), "ffffff")) // max uint32
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    val batcher = new MicroBatcher(BatcherConfig(50.millis, 10), new ParquetBatchSink(outDir))
    val q = batcher.start(ingest.toDS(), tmp("gold_ck"))
    fixtures.foreach(ingest.saveAsync)
    q.processAllAvailable()
    q.stop()
    val written = ParquetBatchSink.readAll(spark, outDir)
    fixtures.foreach { fx =>
      val n = written.filter(col("user_id") === fx.user_id &&
        col("amount") === fx.amount && col("sha256sum") === fx.sha256sum).count()
      assert(n === 1L, s"golden row ${fx.user_id}")
    }
  }

  test("drain mode (AvailableNow) processes queued rows then terminates on its own") {
    import spark.implicits._
    val outDir = tmp("drain_out")
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    ingest.saveAllAsync((0 until 1234).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i")))
    val batcher = new MicroBatcher(BatcherConfig(1.hour, 500), new ParquetBatchSink(outDir))
    val q = batcher.drain(ingest.toDS(), tmp("drain_ck"))
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(ParquetBatchSink.readAll(spark, outDir).count() === 1234L)
  }

  test("disabled gate drops rows silently (hashes.go:12-15)") {
    import spark.implicits._
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext, enabled = false)
    ingest.saveAsync(LimitHash("u", 1L, null, "h"))
    ingest.saveAllAsync(Seq(LimitHash("v", 2L, null, "i")))
    val outDir = tmp("dis_out")
    val batcher = new MicroBatcher(BatcherConfig(50.millis, 10), new ParquetBatchSink(outDir))
    val q = batcher.start(ingest.toDS(), tmp("dis_ck"))
    q.processAllAvailable()
    q.stop()
    assert(!Files.list(java.nio.file.Paths.get(outDir)).findAny().isPresent,
      "sink dir must stay empty when disabled")
  }

  test("compaction bin-packs micro-batch output without losing or changing rows") {
    import spark.implicits._
    val outDir = tmp("compact_in")
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    // fast tick + tiny cap → many small files across many batch dirs
    val batcher = new MicroBatcher(BatcherConfig(20.millis, 50), new ParquetBatchSink(outDir))
    val q = batcher.start(ingest.toDS(), tmp("compact_ck"))
    (0 until 5000).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i"))
      .grouped(250).foreach { c => ingest.saveAllAsync(c); Thread.sleep(5) }
    q.processAllAvailable()
    q.stop()
    val compacted = tmp("compact_out")
    val stats = graft.sources.Compaction.compact(spark, outDir, compacted,
      targetBytes = 1L << 20)
    assert(stats.filesBefore > stats.filesAfter,
      s"expected fewer files, got ${stats.filesBefore} -> ${stats.filesAfter}")
    val back = spark.read.parquet(compacted)
    assert(back.count() === 5000L)
    assert(back.select("amount").as[Long].collect().sorted.toSeq === (0L until 5000L))
  }

  test("effectively-once: flush failure + restart does not lose or duplicate rows") {
    import spark.implicits._
    val outDir = tmp("eo_out")
    val ckDir = tmp("eo_ck")
    val failOnce = new ParquetBatchSink(outDir) {
      override def write(df: org.apache.spark.sql.DataFrame, batchId: Long, cap: Int): Unit = {
        if (batchId >= 1 && !FailFlag.tripped) { FailFlag.tripped = true; sys.error("injected flush failure") }
        super.write(df, batchId, cap)
      }
    }
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    val batcher = new MicroBatcher(BatcherConfig(50.millis, 1000), failOnce)
    val q1 = batcher.start(ingest.toDS(), ckDir)
    ingest.saveAllAsync((0 until 500).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i")))
    try { q1.processAllAvailable() } catch { case _: Throwable => () }
    ingest.saveAllAsync((500 until 1000).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i")))
    try { q1.processAllAvailable() } catch { case _: Throwable => () }
    try { q1.stop() } catch { case _: Throwable => () }
    // restart from the same checkpoint: failed batch replays, sink
    // overwrite-per-batchId dedups
    val q2 = batcher.start(ingest.toDS(), ckDir)
    q2.processAllAvailable()
    q2.stop()
    val got = ParquetBatchSink.readAll(spark, outDir)
      .select("amount").as[Long].collect().sorted
    assert(got.length === 1000, s"expected 1000 rows, got ${got.length}")
    assert(got.toSeq === (0L until 1000L))
  }

  test("materialized view maintenance: batch replay is a no-op, merge accumulates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viewDir = java.nio.file.Files.createTempDirectory("mv_spec").toString
    val view = new graft.streaming.MatView(viewDir)
    def batch(rows: (String, Long)*) = rows.toDF("event_type", "cents")
    def state() = view.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    view.maintain(batch(("a", 100L), ("a", 50L), ("b", 10L)), 0L)
    assert(state() === Seq(("a", 2L, 150L), ("b", 1L, 10L)))
    view.maintain(batch(("a", 100L), ("a", 50L), ("b", 10L)), 0L) // replay
    assert(state() === Seq(("a", 2L, 150L), ("b", 1L, 10L)), "replay must not double-count")
    view.maintain(batch(("b", 5L), ("c", 1L)), 1L)
    assert(state() === Seq(("a", 2L, 150L), ("b", 2L, 15L), ("c", 1L, 1L)))
  }

  test("materialized view maintenance: a crash between swap steps never loses the view") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.hadoop.fs.Path
    val viewDir = java.nio.file.Files.createTempDirectory("mv_crash").toString + "/view"
    val view = new graft.streaming.MatView(viewDir)
    def batch(rows: (String, Long)*) = rows.toDF("event_type", "cents")
    def state() = view.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    view.maintain(batch(("a", 100L)), 0L)
    view.maintain(batch(("b", 10L)), 1L)
    assert(state() === Seq(("a", 1L, 100L), ("b", 1L, 10L)))

    val fs = new Path(viewDir).getFileSystem(spark.sessionState.newHadoopConf())
    val prev = new Path(viewDir + ".prev")

    // crash window A — between swap steps 2 and 3: main renamed away,
    // the COMPLETE new generation (prior state merged in, by protocol
    // construction) still sitting in .next. The newest state is .next.
    if (fs.exists(prev)) fs.delete(prev, true)
    assert(fs.rename(new Path(viewDir), prev))
    batch(("a", 100L), ("b", 10L), ("c", 7L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .withColumn("_b", lit(2L))
      .write.mode("overwrite").parquet(viewDir + ".next")
    // read resolves the proven-complete staged generation — nothing lost
    assert(state() === Seq(("a", 1L, 100L), ("b", 1L, 10L), ("c", 1L, 7L)))
    // maintain first FINISHES the swap (promotes .next), then the
    // replayed batch is a no-op against its high-water mark
    view.maintain(batch(("c", 7L)), 2L) // replay of the crashed batch
    assert(fs.exists(new Path(viewDir)), "repair must promote .next to main")
    assert(state() === Seq(("a", 1L, 100L), ("b", 1L, 10L), ("c", 1L, 7L)))
    view.maintain(batch(("d", 3L)), 3L)
    assert(state() === Seq(("a", 1L, 100L), ("b", 1L, 10L), ("c", 1L, 7L), ("d", 1L, 3L)))

    // crash window B — mid-step-1: main renamed away, .next TORN (no
    // _SUCCESS). Repair must roll .prev back; the torn dir is never read.
    if (fs.exists(prev)) fs.delete(prev, true)
    assert(fs.rename(new Path(viewDir), prev))
    batch(("zzz", 999L)).withColumn("n", lit(1L)).withColumn("_b", lit(99L))
      .select(col("event_type"), col("n"), col("cents"), col("_b"))
      .write.mode("overwrite").parquet(viewDir + ".next")
    fs.delete(new Path(viewDir + ".next", "_SUCCESS"), false)
    assert(state() === Seq(("a", 1L, 100L), ("b", 1L, 10L), ("c", 1L, 7L), ("d", 1L, 3L)),
      "a torn .next must never be read")
    view.maintain(batch(("e", 2L)), 4L)
    assert(state() === Seq(("a", 1L, 100L), ("b", 1L, 10L), ("c", 1L, 7L),
      ("d", 1L, 3L), ("e", 1L, 2L)))
  }

  test("materialized view maintenance: first-generation crash before swap does not self-truncate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.hadoop.fs.Path
    // ADVICE r7: main and .prev absent, .next complete — read() resolved
    // FROM .next while the next maintain's overwrite truncated it.
    val viewDir = java.nio.file.Files.createTempDirectory("mv_gen1").toString + "/view"
    val view = new graft.streaming.MatView(viewDir)
    def batch(rows: (String, Long)*) = rows.toDF("event_type", "cents")
    def state() = view.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    // simulate: batch 0's staged write finished, crash before the swap
    batch(("a", 100L), ("a", 50L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .withColumn("_b", lit(0L))
      .write.mode("overwrite").parquet(viewDir + ".next")
    assert(state() === Seq(("a", 2L, 150L)))

    // next maintain must repair first, then merge — not truncate the
    // directory its own merged plan reads
    view.maintain(batch(("b", 10L)), 1L)
    val fs = new Path(viewDir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(viewDir)))
    assert(state() === Seq(("a", 2L, 150L), ("b", 1L, 10L)),
      "generation-0 state must survive the repair + merge")
  }
}

private object FailFlag { @volatile var tripped = false }
