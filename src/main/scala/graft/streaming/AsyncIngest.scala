package graft.streaming

import java.util.concurrent.Semaphore
import org.apache.spark.sql.{Dataset, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Producer-side facade mirroring the reference's `SaveAsync`
  * (`hashes.go:11-18`): asynchronous, non-durable enqueue with an
  * `enabled` kill switch that silently drops rows (`hashes.go:12-15`).
  *
  * Backed by a [[MemoryStream]] — the Structured Streaming analogue of
  * the reference's in-memory channel (`connect.go:16`). The channel's
  * BLOCKING backpressure at 10 000 rows (`connect.go:11`, `hashes.go:17`)
  * is reproduced by a counting semaphore: `saveAsync` blocks while
  * `bufferCap` rows are in flight, and permits are released as the
  * consuming query's micro-batches complete (wire with [[bindTo]], which
  * listens for progress of the query draining this source). On a
  * production source (files/Kafka-shaped) the same bound is source
  * admission control — see [[MicroBatcher]] Scaladoc.
  *
  * Split rule: every enqueue call appends one block to the stream, and
  * [[toDS]] coalesces a micro-batch's blocks into at most
  * `defaultParallelism` splits. The blocks carry no preferred locations,
  * so Spark's default coalescer gives each split a run of neighbouring
  * blocks (equal block counts, not rows), in enqueue order; a batch with
  * no more blocks than cores reads one split per block. An enqueue call
  * is therefore no longer a task or a parquet file of its own: a per-row
  * producer's tick writes one file per split, not per call (the sink
  * still cuts files at `maxBatchCap` rows), much as the reference's
  * pooled batch is one INSERT per tick (`hashes.go:33-66`).
  *
  * In-memory sources are a driver-side test harness by design; the
  * production ingest path is a real streaming source feeding the same
  * [[MicroBatcher]].
  */
final class AsyncIngest[T: Encoder](sqlContext: SQLContext,
    enabled: Boolean = true, bufferCap: Int = Int.MaxValue) {
  require(bufferCap > 0, "bufferCap must be positive")
  private val stream = MemoryStream[T](implicitly[Encoder[T]], sqlContext)
  private val permits = new Semaphore(bufferCap)

  /** Enqueue one row, BLOCKING while bufferCap rows are in flight — the
    * reference producer blocks on a full channel the same way. No-op
    * when disabled (rows are dropped without touching the buffer,
    * matching the reference's gate — callers get no error). */
  def saveAsync(row: T): Unit = if (enabled) {
    permits.acquire()
    stream.addData(row)
  }

  /** Bulk enqueue (producer loops call this per chunk). Chunks larger
    * than bufferCap are split so a single call can never deadlock
    * waiting for more permits than exist. */
  def saveAllAsync(rows: Seq[T]): Unit = if (enabled) {
    rows.grouped(math.min(bufferCap, math.max(rows.size, 1))).foreach { chunk =>
      permits.acquire(chunk.size)
      stream.addData(chunk)
    }
  }

  /** Rows enqueued but not yet consumed (gauge; exact between calls). */
  def inFlight: Int = bufferCap - permits.availablePermits()

  /** Wire backpressure to the query draining this source: each
    * completed micro-batch releases one permit per row it read
    * (`numInputRows`). That count equals the rows enqueued only while
    * the query reads each batch once, which [[BatchSink]] requires.
    * Returns the listener so callers can remove it after `query`
    * stops. */
  def bindTo(query: StreamingQuery): StreamingQueryListener = {
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val n = e.progress.numInputRows
        if (e.progress.id == query.id && n > 0)
          permits.release(math.min(n, Int.MaxValue.toLong).toInt)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    sqlContext.sparkSession.streams.addListener(listener)
    listener
  }

  /** The unbounded Dataset to hand to [[MicroBatcher.start]], at most
    * one split per core (see the split rule above). */
  def toDS(): Dataset[T] =
    stream.toDS().coalesce(sqlContext.sparkContext.defaultParallelism)
}
