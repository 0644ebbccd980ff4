package perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import graft.LimitHash

/** Seeded row source for the ingest workloads. Everything the seed
  * controls is fixed here, before timing starts: row content, the skew
  * of user ids (Zipf over 1,000 users, so a few users own most rows) and
  * the per-call jitter of the schedule, log-uniform between 1 µs and
  * 1 ms like the reference producer's random sleeps. */
final class RowSource(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val users = 1000
  private val zipfCdf: Array[Double] = {
    val w = (1 to users).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def user(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, users - 1)
  }

  private def sha256Hex(index: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$seed:$index".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The next `n` rows of the seeded stream; row `k` is keyed by the
    * hash of `offset + k`, so disjoint offsets give distinct keys. */
  def rows(offset: Long, n: Int): Array[LimitHash] = Array.tabulate(n) { k =>
    val msg =
      if (rng.nextInt(20) == 0) null
      else { val b = new Array[Byte](rng.nextInt(65)); rng.nextBytes(b); b }
    LimitHash(f"user_${user()}%04d", rng.nextLong(1L << 32), msg, sha256Hex(offset + k))
  }

  /** Jitter added to each due time, in nanoseconds. */
  def jitterNanos(n: Int): Array[Long] =
    Array.fill(n)(math.round(1000.0 * math.pow(1000.0, rng.nextDouble())))
}

object RowSource {
  /** The reference writer test's rows (`hashes_test.go:146-162`), offered
    * with every ingest run and looked up by full-field equality after it. */
  val golden: Seq[LimitHash] = Seq(
    LimitHash("test_user_001_Bchs76uZfZ", 777L, "some data".getBytes("UTF-8"), "abc123"),
    LimitHash("test_user_002", 0L, null, "def456"),
    LimitHash("test_user_003", 4294967295L, Array[Byte](), "ffffff"))
}

/** One enqueue call as the generator issued it. `inFlight` is the
  * ingest buffer's gauge right after the call returned. */
final case class Call(due: Long, start: Long, end: Long, firstRow: Int,
    rows: Int, inFlight: Int) {
  def lateNanos: Long = math.max(0L, start - due)
  def waitNanos: Long = end - start
}

/** Open-loop load generator: one thread issues call `k` at `due(k)`
  * whatever happened to earlier calls, so a stall in the system shows
  * up as lateness and latency instead of as a lighter load. */
object OpenLoop {
  def run(due: Array[Long], rowsPerCall: Int, firstRow: Int,
      tracer: Tracer, phase: String)(enqueue: Int => Int): Array[Call] = {
    val calls = new Array[Call](due.length)
    val t = new Thread(() => {
      var k = 0
      while (k < due.length) {
        sleepUntil(due(k))
        val row = firstRow + k * rowsPerCall
        tracer.span("gen.enqueue", 0L, s"$phase-$k") { _ =>
          val start = System.nanoTime()
          val inFlight = enqueue(k)
          calls(k) = Call(due(k), start, System.nanoTime(), row, rowsPerCall, inFlight)
        }
        k += 1
      }
    }, "perfbench-generator")
    t.start()
    t.join()
    calls
  }

  /** Parks until `System.nanoTime()` reaches `t`. */
  def sleepUntil(t: Long): Unit = {
    var wait = t - System.nanoTime()
    while (wait > 0) { LockSupport.parkNanos(wait); wait = t - System.nanoTime() }
  }
}
