package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Soak

/** Smoke run of the soak harness under a comma-decimal default locale:
  * every leg but `scale` (fixed 20M–200M-row inputs) once at its
  * smallest valid input. A leg that returns has passed its exactness and
  * correctness gates; its JSON rows must carry the keys of its committed
  * artifact. With one scale the exponents are null and the scaling gates
  * pass vacuously; the helper tests pin the exponent and format rules. */
class SoakSpec extends AnyFunSuite {

  private lazy val spark = Sessions.base()
  private val json = new ObjectMapper()

  private def parse(lines: Seq[String]): Seq[JsonNode] =
    lines.filter(_.startsWith("{")).map(json.readTree)

  private def keys(row: JsonNode): Seq[String] = row.fieldNames().asScala.toSeq

  private def underGermanLocale[A](body: => A): A = {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try body finally Locale.setDefault(prev)
  }

  /** Runs a leg; returns its JSON rows, and the gate failure if any. */
  private def runLeg(leg: String, args: String*): (Seq[JsonNode], Option[Throwable]) = {
    val out = new ByteArrayOutputStream()
    val failure = underGermanLocale {
      Console.withOut(out) {
        try { Soak.run(spark, leg, args); None }
        catch { case e: IllegalArgumentException => Some(e) }
      }
    }
    (parse(out.toString("UTF-8").linesIterator.toSeq), failure)
  }

  /** Runs a leg that must pass every gate and checks its row shapes
    * (per-scale rows and the summary) against the committed artifact. */
  private def smoke(artifact: String, leg: String, args: String*): Seq[JsonNode] = {
    val (rows, failure) = runLeg(leg, args: _*)
    failure.foreach(e => fail(s"$leg gate failed: ${e.getMessage}"))
    val committed = parse(Files.readAllLines(Paths.get(artifact)).asScala.toSeq)
    assert(rows.map(keys).distinct.toSet === committed.map(keys).distinct.toSet)
    assert(rows.last.has("soak"), "the summary row comes last")
    rows
  }

  test("growth exponent: None for one scale, a missing point or a zero-to-zero series") {
    assert(Soak.growthExponent(1, 1, Some(2.0), Some(2.0)) === None)
    assert(Soak.growthExponent(1, 10, Some(2.0), None) === None)
    assert(Soak.growthExponent(1, 10, Some(0.0), Some(0.0)) === None)
    assert(Soak.growthExponent(1, 10, Some(Double.NaN), Some(1.0)) === None)
    // growth from a zero base reads as steep growth, so a ≤ gate trips
    assert(Soak.growthExponent(1, 10, Some(0.0), Some(1.0)).exists(_ > 8.0))
    assert(Soak.growthExponent(1, 100, Some(3.0), Some(300.0))
      .exists(e => math.abs(e - 1.0) < 1e-9))
    assert(Soak.growthExponent(1, 100, Some(5.0), Some(5.0)).contains(0.0))
  }

  test("JSON lines format decimals in Locale.ROOT and write a missing or non-finite one as null") {
    underGermanLocale {
      assert(f"${0.25}%.2f" === "0,25", "the default-locale formatter the emitter avoids")
      assert(Soak.jsonLine("a" -> Soak.Dec(Some(0.25), 2), "b" -> Soak.Dec(None, 2),
          "c" -> Soak.Dec(Some(Double.NaN), 3), "d" -> Soak.Dec(Some(1.0 / 0), 1),
          "s" -> Seq(1, 10), "t" -> Seq("sf0.001"), "n" -> 7L, "x" -> true, "q" -> "a\"b") ===
        """{"a":0.25,"b":null,"c":null,"d":null,"s":[1,10],"t":["sf0.001"],"n":7,"x":true,"q":"a\"b"}""")
    }
  }

  test("dedup leg: one scale writes null exponents, not NaN") {
    val rows = smoke("SOAK_r10_local.json", "dedup", "/root/testdata/sf0.001", "1")
    assert(rows.init.map(_.get("query").asText) === Seq("d02", "d04", "d05", "d08", "v02", "v03"))
    assert(rows.init.forall(_.get("rows").asLong > 0))
    assert(Seq("d02", "d04", "d05", "d08", "v02", "v03").forall(rows.last.get(_).isNull))
  }

  test("rel leg: stable row counts per query") {
    val rows = smoke("SOAK_REL_r20.json", "rel", "sf0.001", "/root/testdata")
    assert(rows.init.size === 6)
    assert(rows.init.forall(r => r.get("rows").asLong > 0 && r.get("shuffle_bytes").asLong > 0))
    assert(rows.last.get("data_ratio").asDouble === 1.0)
  }

  test("tail leg: both tiers catch up exactly across the mid-catch-up restart") {
    val rows = smoke("SOAK_TAIL_r20.json", "tail", "5000", "1")
    val catchUps = rows.filter(_.has("op"))
    assert(catchUps.map(_.get("op").asText) === Seq("tail_catchup", "log_tail_catchup"))
    assert(catchUps.forall(r => r.get("exact").asBoolean && r.get("rows").asLong == 5000L))
  }

  test("dml leg: every op on both tiers at the smallest DV-stride table") {
    val rows = smoke("SOAK_r20.json", "dml", "5000", "1")
    assert(rows.filter(_.has("op")).map(_.get("op").asText) === Seq("merge_mask",
      "update_mask", "merge_dv", "dv_fold", "purge", "log_merge_mask", "log_merge_dv", "log_purge"))
    assert(rows.filter(_.has("op")).forall(_.get("bytes_written").asLong > 0))
  }

  test("concurrent leg: two writers lose and double no update on either tier") {
    val rows = smoke("SOAK_CONCURRENT_r20.json", "concurrent", "1000", "1", "1")
    val merges = rows.init
    assert(merges.map(_.get("op").asText) === Seq("concurrent_merge", "log_concurrent_merge"))
    assert(merges.forall(r => r.get("lost_or_double").asLong == 0L && r.get("row_count_ok").asBoolean))
  }

  test("sidecars leg: the folded store still answers the selective probe") {
    val rows = smoke("SOAK_SIDECARS_r20.json", "sidecars", "2", "1")
    assert(rows.head.get("probe_files_read").asLong <= 4L)
    assert(rows.last.get("probe_bytes").isNull)
  }

  test("sidecars scaling gate compares numbers under a comma-decimal locale") {
    // two scales that both fit one fold bucket: the probe reads the whole
    // store, so its bytes grow with the table and the ≤ 0.35 gate trips
    val (rows, failure) = runLeg("sidecars", "2", "1,2")
    assert(rows.map(_.get("scale").asInt) === Seq(1, 2))
    assert(failure.exists(_.getMessage.contains("SCALING GATE FAILED: probe bytes exponent 1.00")),
      s"got $failure")
  }

  test("ann leg: planted copies answer exactly on every layout and after the rebuild") {
    val rows = smoke("SOAK_ANN_r20.json", "ann", "200", "200", "1")
    assert(rows.head.get("n").asLong === 200L)
    assert(rows.last.get("probed_rows_exp").isNull)
  }

  test("Verify writes the oracle SQL of the selected queries only") {
    val all = Verify.oracleJson(_ => true)
    // unfiltered text keeps the exact shape the oracle compare parses
    assert(all === SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.jsonString(k)}: ${Verify.jsonString(v)}" }
      .mkString("{", ",", "}"))
    val selected = (n: String) => n.startsWith("q01") || n.startsWith("s0")
    val picked = json.readTree(Verify.oracleJson(selected)).fieldNames().asScala.toSet
    assert(picked.nonEmpty && picked === SparkEntry.oracleSql.keySet.filter(selected))
  }
}
