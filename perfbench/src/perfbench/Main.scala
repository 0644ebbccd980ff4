package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets the workload up several times, runs
  * it once with timing, checks its outputs and writes one JSON result
  * file. `perfbench/run.py` builds this, generates the query fixtures,
  * runs the oracle compare and prints the driver-facing line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--fixtures DIR] [--spans FILE] */
object Main {
  /** Set-up repetitions per run; `setup_s` is their median. The first
    * set-up is the one measured; the others follow the measurement, so a
    * stopped and restarted session never precedes it. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try { run(opts); 0 } catch { case e: Throwable =>
      System.err.println(s"[perfbench] run failed: $e")
      e.printStackTrace()
      2
    }
    System.exit(code)
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val cores = opts.getOrElse("cores", "4").toInt
    val tracer = new Tracer(opts("trace") == "1")
    val work = Files.createDirectories(Paths.get(opts("work")))
    val ingestSpec = Ingest.specs.get(workload)
    require(ingestSpec.isDefined || workload == Queries.Workload, s"unknown workload $workload")

    val phases = scala.collection.mutable.Map.empty[String, Double]
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    var spark: SparkSession = null
    var pipeline: Option[Pipeline] = None
    val src = new RowSource(seed)
    def setUp(rep: Int): Double = {
      val t0 = System.nanoTime()
      spark = graft.Sessions.base(s"local[$cores]", cores)
      ingestSpec match {
        case Some(spec) => pipeline = Some(Ingest.prepare(spark, spec, src, work, rep, tracer))
        case None => Queries.prepare(spark, opts("fixtures"))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = scala.collection.mutable.ArrayBuffer(setUp(0))
    phase("setup")
    val listener = SparkTotals.listen(spark.sparkContext, tracer)
    def jobs: Seq[JobRecord] = listener.map(_.settled()).getOrElse(Nil)

    val (result, oracleDir) = (ingestSpec, pipeline) match {
      case (Some(_), Some(p)) =>
        val r = Ingest.run(p, src, seconds, cores, tracer, jobs)
        phase("measured_and_checked")
        (r, None)
      case _ =>
        val fixtures = opts("fixtures")
        val qs = Queries.resolve(Queries.ids)
        val oracle = work.resolve("oracle")
        val threw = Queries.dumpForOracle(spark, fixtures, oracle, qs)
        phase("correctness_pass")
        val execs = Queries.timedPasses(spark, fixtures, seconds, qs, tracer)
        phase("timed_passes")
        val (e2e, detail, layers) = Queries.metrics(execs, cores, tracer, jobs)
        // the correctness pass is counted by run.py, from the oracle compare
        val failedExecs = execs.filterNot(_.ok)
        val checks = CheckResult(execs.size.toLong, failedExecs.size.toLong,
          threw.map(id => s"$id threw in the correctness pass") ++
            failedExecs.map(e => s"${e.id} threw in pass ${e.pass}"))
        (Result(e2e, detail, layers, checks), Some(oracle))
    }
    opts.get("spans").filter(_ => tracer.enabled).foreach(f => tracer.write(Paths.get(f)))
    for (rep <- 1 until SetupReps) {
      pipeline.foreach(_.close())
      spark.stop()
      setupS += setUp(rep)
    }
    pipeline.foreach(_.close())
    phase("results")
    val selfMs = tracer.selfMsByName
    Files.writeString(Paths.get(opts("out")), Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> tracer.enabled,
      "setup_s" -> Stats.median(setupS.toSeq), "setup_reps_s" -> setupS.toSeq,
      "e2e" -> result.e2e, "detail" -> (result.detail + ("phases_s" -> phases.toMap)),
      "layers" -> result.layers,
      "self_ms" -> selfMs,
      "attempted" -> result.checks.attempted, "failed" -> result.checks.failed,
      "errors" -> result.checks.errors, "oracle_dir" -> oracleDir.map(_.toString))))
    spark.stop()
  }
}
