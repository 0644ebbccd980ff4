package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.streaming._
import scala.concurrent.duration._

/** The reference's conservation oracle as a true randomized property
  * (SURVEY.md §5: ScalaCheck over (count, interval, cap, chunking) —
  * `hashes_test.go:78-134` swept 5 hand-picked points; this samples the
  * space). Bounded generators keep a trial under a few seconds. */
class BatcherPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.base("local[4]", 4)

  private val configs = for {
    rows <- Gen.choose(1, 2000)
    intervalMs <- Gen.choose(10, 150)
    cap <- Gen.choose(1, 500)
    chunk <- Gen.choose(1, 512)
  } yield (rows, intervalMs, cap, chunk)

  test("conservation of rows holds for random (rows, interval, cap, chunk)") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(configs) { case (rows, intervalMs, cap, chunk) =>
      val outDir = Files.createTempDirectory("prop_out").toString
      val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
      val batcher = new MicroBatcher(
        BatcherConfig(intervalMs.millis, cap), new ParquetBatchSink(outDir))
      val q = batcher.start(ingest.toDS(),
        Files.createTempDirectory("prop_ck").toString)
      (0 until rows).map(i => LimitHash(s"u$i", i.toLong, null, s"h$i"))
        .grouped(chunk).foreach(c => ingest.saveAllAsync(c))
      q.processAllAvailable()
      q.stop()
      val written = ParquetBatchSink.readAll(spark, outDir)
      val countOk = written.count() == rows.toLong
      val contentOk = written.select("amount").as[Long].collect().sorted.toSeq ==
        (0L until rows.toLong)
      countOk && contentOk
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
  }

  test("bufferCap backpressure: fast producer blocks at cap, never exceeds it (connect.go:11)") {
    import spark.implicits._
    val cap = 10
    val total = 60
    val outDir = Files.createTempDirectory("bp_out").toString
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext, bufferCap = cap)
    val batcher = new MicroBatcher(
      BatcherConfig(100.millis, 1000), new ParquetBatchSink(outDir))
    @volatile var maxSeen = 0
    val producer = new Thread(() => {
      (0 until total).foreach { i =>
        ingest.saveAsync(LimitHash(s"u$i", i.toLong, null, s"h$i"))
        maxSeen = math.max(maxSeen, ingest.inFlight)
      }
    })
    producer.start()
    // no consumer yet: the producer must stall at exactly cap in-flight
    // rows (the reference producer blocks on its full channel the same way)
    producer.join(3000)
    assert(producer.isAlive, "producer must block once cap rows are in flight")
    assert(ingest.inFlight === cap)
    val q = batcher.start(ingest.toDS(),
      Files.createTempDirectory("bp_ck").toString)
    ingest.bindTo(q)
    producer.join(60000)
    assert(!producer.isAlive, "producer must finish once the query drains the buffer")
    q.processAllAvailable()
    // every consumed row released exactly one permit: nothing in flight,
    // nothing over-released (a second read of a batch would count twice)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    assert(ingest.inFlight === 0)
    q.stop()
    assert(maxSeen <= cap, s"in-flight rows peaked at $maxSeen > cap $cap")
    assert(ParquetBatchSink.readAll(spark, outDir).count() === total.toLong)
  }
}
