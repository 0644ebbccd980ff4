package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import scala.concurrent.duration._

/** The north-star write path driven end-to-end: the micro-batcher
  * streaming into a real JDBC warehouse (embedded Derby standing in for
  * ClickHouse — same DataFrameWriter JDBC surface, same `batchsize`
  * semantics as the reference's prepared-batch INSERT,
  * `hashes.go:86-98`). */
class JdbcBatcherSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.base("local[4]", 4)
  private val url = "jdbc:derby:memory:graftdb;create=true"
  private def props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // Derby's default StringType mapping is CLOB, which is not
    // comparable (breaks pushed-down equality filters) — pin VARCHAR
    p.setProperty("createTableColumnTypes",
      "user_id VARCHAR(64), sha256sum VARCHAR(64)")
    p
  }

  test("batcher streams rows into a JDBC table; conservation + golden rows hold") {
    import spark.implicits._
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    val batcher = new MicroBatcher(
      BatcherConfig(interval = 50.millis, maxBatchCap = 1000),
      new StagedJdbcBatchSink(url, "limits_hashes", Seq("sha256sum"), props))
    val q = batcher.start(ingest.toDS(),
      Files.createTempDirectory("jdbc_ck").toString)
    val rows = (0 until 5000).map(i =>
      LimitHash(s"user_${i % 97}", i.toLong, Array[Byte]((i % 127).toByte), f"hash_$i%05d"))
    rows.grouped(500).foreach(c => ingest.saveAllAsync(c))
    q.processAllAvailable()
    q.stop()

    val back = spark.read.jdbc(url, "limits_hashes", props)
    assert(back.count() === 5000L)
    assert(back.agg(sum(col("amount"))).head().getLong(0) === (0L until 5000L).sum)
    // golden row, full-field equality (hashes_test.go:191-203)
    assert(back.filter(col("user_id") === "user_42" && col("amount") === 42L &&
      col("sha256sum") === "hash_00042").count() === 1L)
  }

  test("staged MERGE sink: batch replay is effectively-once (no duplicates, no loss)") {
    import spark.implicits._
    val url2 = "jdbc:derby:memory:graftdb_staged;create=true"
    // direct-replay check first: the same (df, batchId) written twice —
    // the post-write/pre-offset-commit crash window where plain append
    // duplicates — must land exactly once
    val sink = new StagedJdbcBatchSink(url2, "staged_hashes", Seq("sha256sum"), props)
    val df = (0 until 300).map(i =>
      LimitHash(s"u$i", i.toLong, null, f"hash_$i%05d")).toDF()
    sink.write(df, 0L, 100)
    sink.write(df, 0L, 100) // replay
    val next = (300 until 500).map(i =>
      LimitHash(s"u$i", i.toLong, null, f"hash_$i%05d")).toDF()
    sink.write(next, 1L, 100)
    val back = spark.read.jdbc(url2, "staged_hashes", props)
    assert(back.count() === 500L)
    assert(back.select("amount").as[Long].collect().sorted.toSeq === (0L until 500L))
    // stage is GC'd after each successful merge
    assert(spark.read.jdbc(url2, "staged_hashes_stage", props).count() === 0L)
  }

  test("staged MERGE sink: crash AFTER write, before offset commit — restart does not duplicate") {
    import spark.implicits._
    val url3 = "jdbc:derby:memory:graftdb_staged2;create=true"
    val ckDir = Files.createTempDirectory("staged_ck").toString
    // fail AFTER the durable write: the offset is not committed, so the
    // restart replays a batch whose rows are already in the warehouse —
    // the exact window where a plain JDBC append would double
    val failAfter = new StagedJdbcBatchSink(url3, "eo_hashes", Seq("sha256sum"), props) {
      override def write(d: org.apache.spark.sql.DataFrame, batchId: Long, cap: Int): Unit = {
        super.write(d, batchId, cap)
        if (batchId >= 1 && !JdbcFailFlag.tripped) {
          JdbcFailFlag.tripped = true
          sys.error("injected post-write failure")
        }
      }
    }
    val ingest = new AsyncIngest[LimitHash](spark.sqlContext)
    val batcher = new MicroBatcher(BatcherConfig(50.millis, 1000), failAfter)
    val q1 = batcher.start(ingest.toDS(), ckDir)
    ingest.saveAllAsync((0 until 400).map(i => LimitHash(s"u$i", i.toLong, null, f"h_$i%05d")))
    try q1.processAllAvailable() catch { case _: Throwable => () }
    ingest.saveAllAsync((400 until 800).map(i => LimitHash(s"u$i", i.toLong, null, f"h_$i%05d")))
    try q1.processAllAvailable() catch { case _: Throwable => () }
    try q1.stop() catch { case _: Throwable => () }
    val q2 = batcher.start(ingest.toDS(), ckDir)
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.jdbc(url3, "eo_hashes", props)
      .select("amount").as[Long].collect().sorted
    assert(got.length === 800, s"expected 800 rows, got ${got.length}")
    assert(got.toSeq === (0L until 800L))
  }

  test("sinks accept an empty micro-batch and leave the target unchanged") {
    import spark.implicits._
    // a watermarked input runs no-data micro-batches; they reach the
    // sink as empty DataFrames
    val rows = (0 until 50).map(i => LimitHash(s"u$i", i.toLong, null, f"hash_$i%05d")).toDF()
    val empty = Seq.empty[LimitHash].toDF()

    val dir = Files.createTempDirectory("empty_parquet").toString
    val parquet = new ParquetBatchSink(dir)
    parquet.write(rows, 0L, 100)
    parquet.write(empty, 1L, 100)
    assert(ParquetBatchSink.readAll(spark, dir).count() === 50L)

    val url4 = "jdbc:derby:memory:graftdb_empty;create=true"
    val staged = new StagedJdbcBatchSink(url4, "empty_hashes", Seq("sha256sum"), props)
    staged.write(rows, 0L, 100)
    staged.write(empty, 1L, 100)
    assert(spark.read.jdbc(url4, "empty_hashes", props).count() === 50L)
    assert(spark.read.jdbc(url4, "empty_hashes_stage", props).count() === 0L)
  }
}

private object JdbcFailFlag { @volatile var tripped = false }
