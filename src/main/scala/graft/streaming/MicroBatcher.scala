package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.concurrent.duration._

/** The reference's core capability — an asynchronous micro-batch ingest
  * pipeline — rebuilt on Structured Streaming.
  *
  * Reference semantics being reproduced (see SURVEY.md §2.1 #1–#5):
  *   - producers enqueue rows asynchronously; a worker accumulates them
  *     and flushes when a timer ticks OR the batch hits a size cap
  *     (reference `hashes.go:33-66`, cap at `hashes.go:68`)
  *   - `enabled = false` drops rows silently at enqueue
  *     (`hashes.go:12-15`; [[AsyncIngest]])
  *   - flush is idempotent-intended (`isSent`, `hashes.go:79-83`) — the
  *     reference's check-then-act race and its fire-and-forget error
  *     handling made that at-most-once; here the foreachBatch batchId +
  *     checkpoint + per-batch overwrite gives effectively-once, fixing
  *     both loss and duplication windows
  *
  * Mapping decisions (SURVEY.md §7 "hard parts"): semantic parity, not
  * mechanical parity. The tick is `Trigger.ProcessingTime(interval)`;
  * the size cap bounds every *physical write unit* — parquet files via
  * `maxRecordsPerFile`, JDBC statements via `batchsize` — which is the
  * property the reference's cap actually protects (bounded memory per
  * flush / bounded insert size). Source-side backpressure (the 10 000-cap
  * channel, `connect.go:11`) maps to source admission control
  * (`maxOffsetsPerTrigger` / `maxFilesPerTrigger`) on rate-limitable
  * sources, and to [[AsyncIngest]]'s blocking `bufferCap` on the
  * in-memory producer path.
  *
  * Tick-OR-size equivalence, stated precisely (vs `hashes.go:55-66`,
  * which flushes mid-interval the moment the accumulator hits the cap):
  * a ProcessingTime trigger processes EVERYTHING available at the tick,
  * so the end-to-end latency bound is ONE interval regardless of burst
  * size — a backlog never queues across ticks the way a fixed-cap
  * accumulator drains a burst in n/cap sequential flushes. The cap
  * meanwhile still bounds each write unit. So both designs guarantee
  * (a) worst-case visibility latency = one tick and (b) bounded flush
  * units; the reference additionally lowers AVERAGE latency under burst
  * (early flush at cap-fill), which for an idempotent durable sink is a
  * latency optimization, not a correctness property — and one paid for
  * with the reference's unbounded flush count per interval. BatcherSpec
  * ("one trigger drains an arbitrarily large burst") encodes this claim.
  *
  * 100 TB posture: each micro-batch is a distributed DataFrame — flush
  * parallelism is executor-wide, not the reference's single goroutine;
  * state is only Spark's offset/commit log (no unbounded operator state).
  */
final case class BatcherConfig(
    interval: FiniteDuration = 1.second,     // tick trigger  (hashes.go:45)
    maxBatchCap: Int = 10000,                // size cap      (hashes.go:68)
    bufferCap: Int = 10000)                  // channel cap   (connect.go:11)

/** Where a flushed micro-batch goes. Implementations must be idempotent
  * per batchId: Structured Streaming re-runs a batch after failure.
  *
  * `write` reads `df` once. Every further action on it reads the source
  * again, and the query's `numInputRows` counts those rows too; that
  * figure is what [[AsyncIngest.bindTo]] releases as backpressure
  * permits. `write` may also receive an empty batch (a watermarked input
  * runs no-data micro-batches) and must leave the target unchanged. */
trait BatchSink extends Serializable {
  def write(df: DataFrame, batchId: Long, maxBatchCap: Int): Unit
}

/** Local/durable sink: one directory per micro-batch, overwritten on
  * replay (effectively-once), each file capped at maxBatchCap rows.
  * Read everything back with `ParquetBatchSink.readAll`. */
class ParquetBatchSink(dir: String) extends BatchSink {
  override def write(df: DataFrame, batchId: Long, maxBatchCap: Int): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxBatchCap.toLong)
      .parquet(s"$dir/batch_id=$batchId")
}

object ParquetBatchSink {
  def readAll(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("basePath", dir).parquet(dir)
}

/** Warehouse-specific SQL for the stage→target step of
  * [[StagedJdbcBatchSink]]. ANSI warehouses (Derby, Postgres, …) get
  * `MERGE INTO … WHEN NOT MATCHED`; ClickHouse has no MERGE — its
  * insert-if-absent idiom is `INSERT INTO target SELECT … FROM stage
  * LEFT ANTI JOIN target ON key` (native anti join) plus lightweight
  * `DELETE` for the stage GC, with backtick identifiers. Both idioms
  * keep every step idempotent per batchId, so the replay-safety
  * argument on [[StagedJdbcBatchSink]] holds unchanged. */
sealed trait MergeIdiom extends Serializable {
  def quote(c: String): String
  def deleteStaged(stage: String, batchId: Long): String
  def merge(target: String, stage: String, keyCols: Seq[String], cols: Seq[String]): String

  /** Row MUTATIONS on the warehouse — the reference clears its table
    * with `DELETE FROM limits_hashes WHERE user_id = '…'`
    * (hashes_test.go:237). `predicate`/`sets` values are SQL text the
    * caller already rendered (these are admin/maintenance statements,
    * not a per-row data path). ANSI targets run the standard
    * DELETE/UPDATE; ClickHouse's DELETE is the lightweight form
    * (≥ 22.8) and its only UPDATE is the `ALTER TABLE … UPDATE`
    * mutation. */
  def deleteWhere(table: String, predicate: String): String =
    s"DELETE FROM $table WHERE $predicate"
  def updateWhere(table: String, sets: Seq[(String, String)],
      predicate: String): String = {
    require(sets.nonEmpty, "UPDATE needs at least one SET")
    val assigns = sets.map { case (c, v) => s"${quote(c)} = $v" }.mkString(", ")
    s"UPDATE $table SET $assigns WHERE $predicate"
  }
}

object MergeIdiom {
  def forUrl(url: String): MergeIdiom =
    if (url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:clickhouse"))
      ClickHouseMergeIdiom
    else AnsiMergeIdiom
}

/** `MERGE INTO` with double-quoted (case-sensitive) identifiers —
  * Spark's JDBC writer creates quoted column names, which an unquoted
  * identifier in hand-written SQL would not resolve. */
case object AnsiMergeIdiom extends MergeIdiom {
  override def quote(c: String): String = "\"" + c + "\""
  override def deleteStaged(stage: String, batchId: Long): String =
    s"DELETE FROM $stage WHERE ${quote("batch_id")} = $batchId"
  override def merge(target: String, stage: String,
      keyCols: Seq[String], cols: Seq[String]): String = {
    val on = keyCols.map(k => s"t.${quote(k)} = s.${quote(k)}").mkString(" AND ")
    val insertCols = cols.map(quote).mkString(", ")
    val insertVals = cols.map(c => s"s.${quote(c)}").mkString(", ")
    s"""MERGE INTO $target t USING $stage s ON ($on)
       |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin
  }
}

/** ClickHouse's insert-if-absent: anti-join the stage against the
  * target server-side; one set-based INSERT, no per-row traffic. The
  * stage GC uses lightweight DELETE (ClickHouse ≥ 22.8; an older
  * deployment would swap in `ALTER TABLE … DELETE WHERE`). */
case object ClickHouseMergeIdiom extends MergeIdiom {
  override def quote(c: String): String = "`" + c.replace("`", "``") + "`"
  override def deleteStaged(stage: String, batchId: Long): String =
    s"DELETE FROM $stage WHERE ${quote("batch_id")} = $batchId"

  /** ClickHouse has NO standard UPDATE statement — the only row
    * update is the `ALTER TABLE … UPDATE` mutation (asynchronous
    * server-side rewrite; add `SETTINGS mutations_sync = 1` at the
    * call site to block). */
  override def updateWhere(table: String, sets: Seq[(String, String)],
      predicate: String): String = {
    require(sets.nonEmpty, "UPDATE needs at least one SET")
    val assigns = sets.map { case (c, v) => s"${quote(c)} = $v" }.mkString(", ")
    s"ALTER TABLE $table UPDATE $assigns WHERE $predicate"
  }

  /** The classic mutation DELETE for deployments predating the
    * lightweight `DELETE FROM` (< 22.8); [[deleteWhere]] stays the
    * default. */
  def alterDelete(table: String, predicate: String): String =
    s"ALTER TABLE $table DELETE WHERE $predicate"
  override def merge(target: String, stage: String,
      keyCols: Seq[String], cols: Seq[String]): String = {
    val on = keyCols.map(k => s"s.${quote(k)} = t.${quote(k)}").mkString(" AND ")
    val insertCols = cols.map(quote).mkString(", ")
    val selectVals = cols.map(c => s"s.${quote(c)}").mkString(", ")
    s"""INSERT INTO $target ($insertCols)
       |SELECT $selectVals FROM $stage AS s
       |LEFT ANTI JOIN $target AS t ON $on""".stripMargin
  }
}

/** The ClickHouse-shaped path (reference `hashes.go:86-98`: prepared
  * batch INSERT over the native protocol), made effectively-once via
  * stage-and-MERGE. Proven against embedded Derby (JdbcBatcherSpec).
  * Each micro-batch is (re)staged into `<table>_stage` tagged with its
  * batchId, MERGEd into the target (insert only rows whose key is
  * absent), then GC'd from the stage. Replay after a crash at ANY point
  * is safe:
  *   - crash after staging: the replay's stage-clean removes the
  *     half-staged rows before restaging
  *   - crash after MERGE but before GC or offset commit (the window in
  *     which a plain JDBC append would duplicate the batch): re-MERGE
  *     inserts nothing — every staged key already matches the target
  *
  * `keyCols` is the warehouse dedup key (the reference's tables are
  * keyed by sha256sum the same way); within-batch duplicates collapse
  * before staging so the MERGE's insert set is key-unique. The stage
  * write itself uses Spark's prepared-batch JDBC path (`batchsize` =
  * cap), so each round trip carries ≤ cap rows, as in the reference;
  * the MERGE is one set-based statement on the server, not per-row
  * traffic.
  *
  * The sink creates both tables (if missing) once, on its first write;
  * they must not be dropped while it is in use (a new sink creates them
  * again). */
class StagedJdbcBatchSink(url: String, table: String,
    keyCols: Seq[String], properties: java.util.Properties) extends BatchSink {
  require(keyCols.nonEmpty, "effectively-once needs a dedup key")
  private def stage = s"${table}_stage"
  // warehouse-matched SQL (Derby/ANSI: MERGE; ClickHouse: anti-join
  // INSERT) — see MergeIdiom; the step sequence is identical either way
  private val idiom = MergeIdiom.forUrl(url)
  @volatile private var tablesCreated = false

  override def write(df: DataFrame, batchId: Long, maxBatchCap: Int): Unit = {
    val clean = df.dropDuplicates(keyCols)
    val cols = clean.schema.fieldNames.toSeq
    // once per sink: ensure both tables exist with the writer's own type
    // mapping (append with 0 rows creates-if-missing, never truncates)
    if (!tablesCreated) {
      clean.limit(0).write.mode("append").jdbc(url, table, properties)
      clean.limit(0).withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("append").jdbc(url, stage, properties)
      tablesCreated = true
    }
    // replay-clean, restage, merge, GC — each step idempotent per batchId
    execute(idiom.deleteStaged(stage, batchId))
    clean.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("append")
      .option("batchsize", maxBatchCap.toLong)
      .jdbc(url, stage, properties)
    execute(idiom.merge(table, stage, keyCols, cols))
    execute(idiom.deleteStaged(stage, batchId))
  }

  private def execute(sql: String): Unit = {
    Option(properties.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try { val st = conn.createStatement(); try st.executeUpdate(sql) finally st.close() }
    finally conn.close()
  }
}

/** Drives a streaming Dataset into a [[BatchSink]] under [[BatcherConfig]]
  * semantics. The public API mirrors the reference surface:
  * `ProcessHashes` (`connect.go:75-79`) ≈ [[start]]. */
final class MicroBatcher(config: BatcherConfig, sink: BatchSink) extends Serializable {

  /** Start the accumulate-and-flush loop. Each micro-batch is one
    * [[BatchSink.write]]. The reference's `enabled=false` gate
    * (`hashes.go:12-15`) lives at enqueue, in [[AsyncIngest]]: rows it
    * drops never reach the stream, so no flush sees them. */
  def start[T](ds: Dataset[T], checkpointDir: String): StreamingQuery =
    startWith(ds, checkpointDir, Trigger.ProcessingTime(config.interval.toMillis))

  /** Drain mode: process everything currently available in bounded
    * micro-batches, then terminate — the batch-backfill entry point
    * (same sink, same idempotency; `Trigger.AvailableNow`). */
  def drain[T](ds: Dataset[T], checkpointDir: String): StreamingQuery =
    startWith(ds, checkpointDir, Trigger.AvailableNow())

  private def startWith[T](ds: Dataset[T], checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    ds.toDF().writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        sink.write(df, batchId, config.maxBatchCap)
      }
      .start()
}
