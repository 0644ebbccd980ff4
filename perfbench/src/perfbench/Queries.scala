package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables, Verify}

/** The query workload: a fixed list of `SparkEntry.queries` ids run in
  * passes over the seeded tables. */
object Queries {
  val Workload = "queries"
  /** Read-side operator families: a relational aggregate, CPU-dense
    * queries over single-split scans, IVF serving and a stateful
    * stream-stream join. */
  val readIds: Seq[String] = Seq("q01", "p03", "d02", "t07", "v11", "s08")
  /** Versioned DML beside reads: parquet-tier masked delete, merge-on-read
    * MERGE and MERGE with deletion vectors, and the log-tier twins of the
    * delete and the deletion-vector MERGE. */
  val dmlIds: Seq[String] = Seq("p28", "p34", "p32", "p40", "p45")
  val ids: Seq[String] = readIds ++ dmlIds
  /** Untimed passes after the correctness pass. Plans keep getting faster
    * for the first few executions in a fresh JVM, and how fast differs
    * from JVM to JVM; timing the second and third executions spread run
    * medians by up to 25%. */
  val WarmPasses = 1

  def resolve(ids: Seq[String]): Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    ids.map { id =>
      val (name, fn) = all.find(_._1.startsWith(id + "_"))
        .getOrElse(sys.error(s"no SparkEntry query with id $id"))
      require(SparkEntry.oracleSql.contains(name), s"$name has no DuckDB oracle")
      (id, name, fn)
    }
  }

  /** Set-up of one repetition: read every table once so file listing,
    * footers and scan code are warm. */
  def prepare(spark: SparkSession, fixtures: String): Unit =
    Tables.all.keys.toSeq.sorted.foreach { t =>
      Tables.read(spark, fixtures, t).write.format("noop").mode("overwrite").save()
    }

  /** The untimed correctness pass: each result goes to parquet beside its
    * oracle SQL, for the DuckDB compare `tools/check.py` makes. Returns
    * the ids that threw. */
  def dumpForOracle(spark: SparkSession, fixtures: String, out: Path,
      qs: Seq[(String, String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    Files.createDirectories(out)
    val failed = qs.filterNot { case (_, name, fn) =>
      try Verify.dumpOne(spark, fixtures, out.toString, name, fn)
      finally spark.catalog.clearCache()
    }.map(_._1)
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(
      qs.map { case (_, name, _) => name -> SparkEntry.oracleSql(name) }.toMap))
    failed
  }

  final case class Exec(pass: Int, id: String, start: Long, planEnd: Long, end: Long, ok: Boolean)

  /** [[WarmPasses]] untimed passes, then timed passes for at most
    * `seconds`: another pass starts only if a pass as long as the last
    * one still ends in time, and at least two run. Every result is fully
    * materialised to the `noop` sink, as the engine's own bench does. */
  def timedPasses(spark: SparkSession, fixtures: String, seconds: Int,
      qs: Seq[(String, String, (SparkSession, String) => DataFrame)],
      tracer: Tracer): Seq[Exec] = {
    for (_ <- 0 until WarmPasses; (_, _, fn) <- qs) {
      try fn(spark, fixtures).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // the timed passes count failures
      finally spark.catalog.clearCache()
    }
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val execs = Seq.newBuilder[Exec]
    val budget = seconds * 1000000000L
    var pass = 0
    var last = 0L
    while (pass < 2 || System.nanoTime() - t0 + last <= budget) {
      val passStart = System.nanoTime()
      tracer.span("pass", 0L, s"pass-$pass") { passSpan =>
        qs.foreach { case (id, name, fn) =>
          tracer.span("query", passSpan, s"$pass-$id") { qSpan =>
            val start = System.nanoTime()
            var planEnd = start
            val ok = try {
              val df = tracer.span("query.plan", qSpan, s"$pass-$id") { s =>
                if (tracer.enabled) sc.setLocalProperty(Tracer.SpanKey, s.toString)
                fn(spark, fixtures)
              }
              planEnd = System.nanoTime()
              tracer.span("query.exec", qSpan, s"$pass-$id") { s =>
                if (tracer.enabled) sc.setLocalProperty(Tracer.SpanKey, s.toString)
                df.write.format("noop").mode("overwrite").save()
              }
              true
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] $name failed in pass $pass: ${e.getMessage}")
              false
            } finally {
              sc.setLocalProperty(Tracer.SpanKey, null)
              spark.catalog.clearCache()
            }
            execs += Exec(pass, id, start, planEnd, System.nanoTime(), ok)
          }
        }
      }
      last = System.nanoTime() - passStart
      pass += 1
    }
    execs.result()
  }

  def metrics(execs: Seq[Exec], cores: Int, tracer: Tracer, jobs: Seq[JobRecord]): (Map[String, Double], Map[String, Any], Map[String, Double]) = {
    val ok = execs.filter(_.ok)
    val passes = execs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    val passWall = passes.map(ps => (ps.map(_.end).max - ps.map(_.start).min) / 1e9)
    // per-query latency: the median of each query over passes, so one
    // slow pass of one query does not set the tail
    val perQuery = ok.groupBy(_.id).view.mapValues(es => Stats.median(es.map(e => (e.end - e.start) / 1e6))).toMap
    val lat = perQuery.values.toSeq
    val e2e = Map(
      "visible_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.percentile(lat, 50)),
      "visible_p99_ms" -> (if (lat.isEmpty) Double.NaN else Stats.percentile(lat, 99)),
      "pass_s" -> Stats.median(passWall))
    val detail = Map[String, Any](
      "passes" -> passes.size,
      "pass_walls_s" -> passWall,
      "query_ms" -> perQuery)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        def jobsIn(a: Long, b: Long) = jobs.filter(j => j.start >= a && j.start <= b)
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        // Spark totals per pass, median over passes
        val perPass = passes.map { ps =>
          val (a, b) = (ps.map(_.start).min, ps.map(_.end).max)
          SparkTotals(jobsIn(a, b), b - a, cores) ++ Map(
            "query.plan_s" -> ps.map(e => (e.planEnd - e.start) / 1e9).sum,
            "query.exec_s" -> ps.map(e => (e.end - e.planEnd) / 1e9).sum)
        }
        val spark = perPass.head.keys.map(k => k -> med(perPass.map(_(k)))).toMap
        val perOp = ids.flatMap { id =>
          val stats = ok.filter(_.id == id).map { e =>
            val js = jobsIn(e.start, e.end)
            val t = SparkTotals(js, e.end - e.start, cores)
            ((e.end - e.start) / 1e9, js.size.toDouble, t("spark.util"), t("spark.input_bytes"))
          }
          Seq(s"operators.$id.wall_s" -> med(stats.map(_._1)),
            s"operators.$id.jobs" -> med(stats.map(_._2)),
            s"operators.$id.util" -> med(stats.map(_._3))) ++
            (if (dmlIds.contains(id)) Seq(s"sources.$id.input_bytes" -> med(stats.map(_._4)))
             else Nil)
        }
        spark ++ perOp
      }
    (e2e, detail, layers)
  }
}
