package graft.tools

import java.io.FileNotFoundException
import java.nio.file.Files
import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{avg, col, concat, count, expr, input_file_name, lit, max, regexp_replace, slice, sum}

import graft.{Sessions, SparkEntry, Tables, Verify}
import graft.operators.{Dedup, IvfIndex, Similarity}
import graft.sources.{DeleteMasks, DeletionVectors, LimitHashLog, LogVersions, ParquetFooterStats, ParquetMoRMerge, ParquetVersions, PartitionSpecs, SidecarShards}

/** The soak harness: scale evidence for the engine's growth claims. Each
  * leg runs production code paths at growing input sizes, prints one
  * JSON line per measurement and a final `{"soak": ...}` summary with
  * log-log growth exponents, and FAILS loudly (`require`) when an
  * exactness or scaling gate is violated.
  *
  * Usage: runMain graft.tools.Soak <leg> [args] — legs, their positional
  * arguments (defaults in parentheses) and the artifacts they produced:
  *   - `dedup [sfDir] [scales]` (the sf0.1 test data, 1,3,10) — `SOAK_r8..r10_local.json`
  *   - `scale [cores,cores,...] [reps]` (8,32, 3) — `SOAK_SCALE_r21.json`
  *   - `rel [sfs] [root]` (sf0.001,sf0.01,sf0.1, the test-data root) — `SOAK_REL_r20.json`
  *   - `tail [baseRows] [scales]` (50000, 1,10,100) — `SOAK_TAIL_r17..r20.json`
  *   - `dml [baseRows] [scales]` (50000, 1,10,100) — `SOAK_r15..r20.json`
  *   - `concurrent [baseRows] [scales] [rounds]` (50000, 1,10, 6) — `SOAK_CONCURRENT_r16..r20.json`
  *   - `sidecars [commits] [scales]` (40, 1,10,100) — `SOAK_SIDECARS_r18..r20.json`
  *   - `ann [base] [delta] [scales]` (2000, 2000, 1,10,100) — `SOAK_ANN_r19..r20.json`
  *
  * Growth exponents are null when they cannot be computed (one scale, a
  * missing point); scaling gates then pass vacuously, exactness gates
  * are evaluated at every scale. */
object Soak {

  /** Positional leg arguments; a missing one takes its default. */
  private final class Args(a: Seq[String]) {
    def str(i: Int, default: String): String = a.lift(i).getOrElse(default)
    def int(i: Int, default: Int): Int = str(i, default.toString).trim.toInt
    def long(i: Int, default: Long): Long = str(i, default.toString).trim.toLong
    def list(i: Int, default: String): Seq[String] = str(i, default).split(",").map(_.trim).toSeq
    def ints(i: Int, default: String): Seq[Int] = list(i, default).map(_.toInt)
  }

  private val Legs: Map[String, (SparkSession, Args) => Unit] = Map(
    "dedup" -> dedup _, "rel" -> rel _, "tail" -> tail _, "dml" -> dml _,
    "concurrent" -> concurrent _, "sidecars" -> sidecars _, "ann" -> ann _)

  def main(args: Array[String]): Unit = args.toSeq match {
    // one local[N] session per requested core count
    case "scale" +: rest => scale(new Args(rest))
    case leg +: rest if Legs.contains(leg) =>
      val spark = Sessions.base()
      spark.sparkContext.setLogLevel("WARN")
      try run(spark, leg, rest) finally spark.stop()
    case _ => sys.error(
      s"usage: Soak <${("scale" +: Legs.keys.toSeq).sorted.mkString("|")}> [args]")
  }

  /** Runs one leg (any but `scale`) on a session the caller owns. */
  private[graft] def run(spark: SparkSession, leg: String, args: Seq[String]): Unit =
    Legs(leg)(spark, new Args(args))

  /** A decimal JSON value with `digits` places; null when absent. */
  private[graft] final case class Dec(v: Option[Double], digits: Int)
  private def dec(v: Double, digits: Int = 3): Dec = Dec(Some(v), digits)
  private def expo(e: Option[Double]): Dec = Dec(e, 2)
  private def show(e: Option[Double]): String = jsonValue(expo(e))

  /** One JSON object line. The only place numbers become text, always in
    * Locale.ROOT — the default-locale `f""` interpolator writes "0,63"
    * under de_DE — and a non-finite decimal is written as null. */
  private[graft] def jsonLine(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${Verify.jsonString(k)}:${jsonValue(v)}" }
      .mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case Dec(d, digits) => d.filter(x => !x.isNaN && !x.isInfinite)
      .fold("null")(x => String.format(Locale.ROOT, s"%.${digits}f", Double.box(x)))
    case s: String => Verify.jsonString(s)
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case x => x.toString
  }

  private def emit(fields: (String, Any)*): Unit = println(jsonLine(fields: _*))

  /** Log-log growth exponent of y from x = xLo to x = xHi: 1.0 is linear,
    * 0 is flat. None for a single scale, a missing point, or a non-finite
    * result. y at xLo is floored at 1e-9, so growth from nothing reads as
    * a large exponent and trips a ≤ gate instead of passing it. */
  private[graft] def growthExponent(xLo: Double, xHi: Double,
      yLo: Option[Double], yHi: Option[Double]): Option[Double] =
    (for (lo <- yLo; hi <- yHi if xLo != xHi)
      yield math.log(hi / math.max(lo, 1e-9)) / math.log(xHi / xLo))
      .filter(e => !e.isNaN && !e.isInfinite)

  /** [[growthExponent]] of a per-scale series, smallest to largest scale. */
  private def overScales(scales: Seq[Int])(y: Int => Option[Double]): Option[Double] =
    growthExponent(scales.min, scales.max, y(scales.min), y(scales.max))

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)

  /** A fresh temp-dir `LogCatalog` warehouse with namespace `lake`;
    * returns (catalog name, warehouse dir). The catalog is named after
    * the dir: a session binds a catalog name to the warehouse it was
    * first used with. */
  private def warehouse(spark: SparkSession, leg: String): (String, String) = {
    val wh = Files.createTempDirectory(s"soak_${leg}_")
    val cat = wh.getFileName.toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LogCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
    (cat, wh.toString)
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parquetFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Runs `body` with JVM system properties set, restoring them after. */
  private def withProps[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, v) => k -> sys.props.put(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => sys.props.put(k, v)
      case (k, None) => sys.props.remove(k)
    }
  }

  /** A storage tier of the twin legs. The parquet tier's table is
    * `lake.t (k, v, pad)`; the log tier's is `lake.lg` in the entity-log
    * schema, whose sha256sum carries the row id as text. */
  private final case class Tier(log: Boolean) {
    val prefix: String = if (log) "log_" else ""
    val gate: String = if (log) "LOG " else ""
    val table: String = if (log) "lg" else "t"
    val key: String = if (log) "sha256sum" else "k"
    val id: String = if (log) "CAST(sha256sum AS BIGINT)" else "k"
    val value: String = if (log) "amount" else "v"
    def keyOf(e: String): String = if (log) s"CAST($e AS STRING)" else e

    /** n rows, range-clustered into 4 × scale files; pad makes parquet
      * bytes-written visible. */
    def rows(spark: SparkSession, n: Long, scale: Int, users: Int): DataFrame =
      if (log) spark.range(n).selectExpr(s"concat('u', id % $users) AS user_id",
          "id AS amount", "CAST(NULL AS BINARY) AS msg", "CAST(id AS STRING) AS sha256sum")
        .repartitionByRange(4 * scale, col("amount"))
      else spark.range(n).selectExpr("id AS k", "id AS v", "repeat(uuid(), 2) AS pad")
        .repartitionByRange(4 * scale, col("k"))

    def live(dir: String): Set[String] =
      (if (log) LogVersions.latest(dir) else ParquetVersions.latest(dir)).get._2.toSet
    def masks(dir: String): Map[String, Seq[String]] =
      if (log) LogVersions.masksFor(dir, None).filter(_._2.nonEmpty)
      else ParquetVersions.masksFor(dir, None)
    def file(dir: String, name: String): Path =
      if (log) new Path(dir, name) else new Path(s"$dir/data", name)
  }
  private val Tiers = Seq(Tier(log = false), Tier(log = true))

  /** Re-creates the tier's table in `cat` with n rows and enables
    * versioning; returns the table dir. */
  private def versionedTable(spark: SparkSession, cat: String, wh: String,
      tier: Tier, n: Long, scale: Int, users: Int = 9973): String = {
    val fq = s"$cat.lake.${tier.table}"
    spark.sql(s"DROP TABLE IF EXISTS $fq")
    spark.sql(s"CREATE TABLE $fq " + (
      if (tier.log) "(user_id STRING, amount BIGINT, msg BINARY, sha256sum STRING)"
      else "(k BIGINT, v BIGINT, pad STRING)"))
    tier.rows(spark, n, scale, users).writeTo(fq).append()
    val dir = s"$wh/lake/${tier.table}"
    if (tier.log) LogVersions.enable(dir)
    else spark.sql(s"CALL $cat.system.enable_versioning(table => 'lake.t')")
    dir
  }

  /** DEDUP/ANN SCALE LEG for the superlinear-RISK families (d02
    * MinHash-LSH, d04 n-gram Jaccard, d08 connected components, v02 LSH
    * ANN, v03 IVF ANN): runs the EXACT production query functions over
    * deterministically scaled copies of the corpus and reports wall time
    * per scale, so the capped-bucket design's near-linear scaling is
    * demonstrated empirically rather than argued.
    *
    * Corpus construction (the one place a soak must extrapolate beyond
    * the generated test data — derived from it, never replacing it
    * for correctness runs): copy k of a document rewrites every token
    * with a per-copy prefix, so copies are DISSIMILAR across k (no
    * artificial quadratic near-dup blowup) while each copy reproduces
    * the original's internal near-dup pair structure — total true pairs
    * scale linearly, which is what "linear in rows" must mean for dedup.
    * Embedding copy k is a k-step circular rotation: orthogonal, so
    * within-copy neighbor geometry is EXACTLY preserved while cross-copy
    * cosine decorrelates. Defaults sf0.1 and 1,3,10 (5k→50k docs,
    * 2k→20k vectors); the summary carries the growth exponent per query
    * (1.0 = linear). */
  private val DedupQueries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "d02" -> Dedup.d02_dedup_minhash_lsh _,
    "d04" -> Dedup.d04_dedup_ngram_jaccard _,
    "d05" -> Dedup.d05_dedup_embedding _,
    "d08" -> Dedup.d08_dedup_clusters _,
    "v02" -> Similarity.v02_sim_lsh_topk _,
    "v03" -> Similarity.v03_sim_ivf_topk _)

  private def scaledDir(spark: SparkSession, base: String, scale: Int): String = {
    val dir = Files.createTempDirectory(s"graft_soak_x$scale").toString
    def writeCopies(table: String)(copy: Int => DataFrame): Unit =
      (0 until scale).map(copy).reduce(_ union _)
        .repartition(32).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    val docs = Tables.documents(spark, base)
    val docSpan = docs.agg(max("doc_id")).head.getLong(0) + 1
    writeCopies("documents") { k =>
      docs.select(
        (col("doc_id") + lit(k * docSpan)).as("doc_id"),
        (if (k == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"c${k}q$$1")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    val emb = Tables.embeddings(spark, base)
    val vecSpan = emb.agg(max("vec_id")).head.getLong(0) + 1
    writeCopies("embeddings") { k =>
      val dim = 64
      val shifted =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k % dim + 1, dim - k % dim),
          slice(col("embedding"), 1, k % dim))
      // copy 0 keeps vec_id so the fixed probe set (vec_id < 10) stays
      // identical across scales — the query cost varies only with the
      // corpus side, which is the quantity under test
      emb.select((col("vec_id") + lit(k * vecSpan)).as("vec_id"),
        shifted.as("embedding"), col("label"))
    }
    dir
  }

  private def dedup(spark: SparkSession, a: Args): Unit = {
    val base = a.str(0, "/root/testdata/sf0.1")
    val scales = a.ints(1, "1,3,10")
    // JVM/codegen warm-up so scale-1 numbers aren't first-job-inflated
    Dedup.d02_dedup_minhash_lsh(spark, base).count()
    spark.catalog.clearCache()
    val times = mutable.Map[(String, Int), Double]()
    for (scale <- scales) {
      val dir = scaledDir(spark, base, scale)
      val docs = Tables.documents(spark, dir).count()
      for ((name, fn) <- DedupQueries) {
        val (rows, sec) = timed(fn(spark, dir).count())
        times((name, scale)) = sec
        emit("query" -> name, "scale" -> scale, "docs" -> docs, "rows" -> rows, "sec" -> dec(sec))
        spark.catalog.clearCache()
      }
    }
    emit(Seq("soak" -> "growth_exponent_1.0_is_linear", "sf_base" -> base, "scales" -> scales) ++
      DedupQueries.map { case (name, _) =>
        name -> expo(overScales(scales)(s => times.get((name, s))))
      }: _*)
  }

  /** CORE-SCALING EVIDENCE LEG: the query bench's
    * low-core/high-core ratios are ≈ 1 at sf0.1 because 11 MB of
    * data leaves every declared query FIXED-COST-BOUND (driver
    * orchestration, commit protocol, codegen) — core count cannot show.
    * This leg runs a genuinely DATA-BOUND workload — the engine's own
    * query shapes over generated inputs big enough that task compute
    * dominates — once per requested core count (one SparkSession per
    * leg, sequential; local[N] exactly like Sessions.base), and prints
    * per-leg walls (min of `reps`) plus the speedup ratio.
    *
    * Workloads (all compute from `spark.range` — nothing read from or
    * persisted to testdata; fresh lineage per run):
    *   - `agg`: 200M-row hash aggregate with expression-heavy projection
    *     (q01's shape: per-row arithmetic + group-by reduction);
    *   - `join`: 20M × 20M shuffle join on a synthetic key with a
    *     per-row payload reduction (q06's shape);
    *   - `sort`: 50M-row global sort (exchange + external sort). */
  private def scale(a: Args): Unit = {
    val coreLegs = a.ints(0, "8,32")
    val reps = a.int(1, 3)
    val walls = mutable.Map[(String, Int), Double]()
    for (cores <- coreLegs) {
      val spark = Sessions.base(master = s"local[$cores]", shufflePartitions = cores)
      import spark.implicits._
      // warm-up: JVM/codegen startup paid outside the timed region
      spark.range(5000000L).selectExpr("sum(id * 2) AS s")
        .write.format("noop").mode("overwrite").save()
      val work: Seq[(String, () => DataFrame)] = Seq(
        "agg" -> (() => spark.range(200000000L)
          .selectExpr("id % 1000 AS k",
            "sin(cast(id AS DOUBLE)) * cos(cast(id AS DOUBLE)) AS x",
            "id % 7 AS f")
          .groupBy($"k")
          .agg(sum($"x").as("sx"), avg($"f").as("af"), count(lit(1)).as("n"))),
        "join" -> (() => {
          val l = spark.range(20000000L)
            .selectExpr("pmod(xxhash64(id), 5000000) AS k", "id AS va")
          val r = spark.range(20000000L)
            .selectExpr("pmod(xxhash64(id + 77), 5000000) AS k", "id AS vb")
          l.join(r, "k").groupBy($"k" % 101).agg(sum($"va" + $"vb").as("s"))
        }),
        "sort" -> (() => spark.range(50000000L)
          .selectExpr("xxhash64(id) AS k", "id AS v")
          .orderBy($"k")))
      for ((name, mk) <- work) {
        val best = (1 to reps)
          .map(_ => timed(mk().write.format("noop").mode("overwrite").save())._2).min
        walls((name, cores)) = best
        emit("soak" -> "core_scaling", "leg" -> name, "cores" -> cores, "wall_sec" -> dec(best))
      }
      spark.stop()
    }
    val (lo, hi) = (coreLegs.min, coreLegs.max)
    emit(Seq("soak" -> "core_scaling_summary", "cores_lo" -> lo, "cores_hi" -> hi) ++
      Seq("agg", "join", "sort").map { n =>
        s"${n}_speedup_${lo}to$hi" -> dec(walls((n, lo)) / walls((n, hi)))
      }: _*)
  }

  /** RELATIONAL-SURFACE SCALE LEG: measures the
    * HEADLINE RELATIONAL PLANS — aggregation (q01), the multi-star join
    * chain (q06), approx-distinct sketching (q29), the salted skew join
    * (q35), the TPC-H-shaped ship-priority join-agg-topk (q38) and the
    * nation-volume join tree (q39) — across the generated test-data scale
    * factors (sf0.001 / sf0.01 / sf0.1 = 1×/10×/100× data) and GATES
    * their growth:
    *
    *   - shuffle-bytes exponent ≤ 1.15 per query (linear at worst —
    *     a super-linear exponent means a join started producing
    *     intermediate blow-up, the exact regression a 1000× production
    *     scale-up would amplify into a cluster-killer);
    *   - wall exponent ≤ 1.1 per query (at these sizes fixed job costs
    *     dominate, so honest values sit well below 1 — the gate is the
    *     tripwire, not the claim);
    *   - rows returned must be STABLE per query across runs at a given
    *     SF (same input → same answer; the correctness oracle proper is
    *     the DuckDB oracle compare, not this soak).
    *
    * Exponents are denominated in the LINEITEM row count at each SF (all
    * generated tables scale together), between the first and last SF.
    * Per (query, sf) the JSON row also records which join strategy the
    * plan picked (broadcast / sort-merge / none) — the evidence trail
    * for plan flips as data grows. Shuffle bytes and records come from
    * the [[QueryProfile.Trace]] listener, reset around each timed run. */
  private val RelQueries = Seq(
    "q01_pricing_summary", "q06_join_multi_star", "q29_agg_approx_distinct",
    "q35_skew_salted_join", "q38_shipping_priority", "q39_nation_volume")

  private def rel(spark: SparkSession, a: Args): Unit = {
    val sfs = a.list(0, "sf0.001,sf0.01,sf0.1")
    val root = a.str(1, "/root/testdata")
    val trace = new QueryProfile.Trace
    spark.sparkContext.addSparkListener(trace)
    val wall = mutable.Map[(String, String), Double]()
    val bytes = mutable.Map[(String, String), Double]()
    val denom = mutable.Map[String, Double]()
    try for (sf <- sfs) {
      val dir = s"$root/$sf"
      val lineitemRows = spark.read.parquet(s"$dir/lineitem.parquet").count()
      denom(sf) = lineitemRows.toDouble
      for (name <- RelQueries) {
        val q = SparkEntry.queries(name)
        // plan evidence: which join strategy did Catalyst pick here?
        val plan = q(spark, dir).queryExecution.executedPlan.toString
        val joins = Seq("BroadcastHashJoin" -> "broadcast", "SortMergeJoin" -> "sort-merge",
          "ShuffledHashJoin" -> "shuffled-hash").collect { case (op, j) if plan.contains(op) => j }
        q(spark, dir).collect() // warm-up (codegen, file listings)
        var rowsSeen = -1L
        val runs = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          trace.reset()
          val (rows, w) = timed(q(spark, dir).collect().length.toLong)
          require(rowsSeen < 0 || rowsSeen == rows,
            s"STABILITY GATE FAILED: $name at $sf returned $rows rows " +
              s"after $rowsSeen on the same input")
          rowsSeen = rows
          Thread.sleep(500) // drain the async listener bus
          (w, trace.shufWriteB, trace.shufWriteRecords)
        }.sortBy(_._1)
        val (w, sb, sr) = runs(1) // median-wall run carries the metrics
        wall((name, sf)) = w
        bytes((name, sf)) = sb.toDouble
        emit("op" -> name, "sf" -> sf, "lineitem_rows" -> lineitemRows, "wall_sec" -> dec(w),
          "shuffle_bytes" -> sb, "shuffle_records" -> sr, "rows" -> rowsSeen,
          "joins" -> (if (joins.isEmpty) "none" else joins.mkString("+")))
      }
    } finally spark.sparkContext.removeSparkListener(trace)

    val (lo, hi) = (sfs.head, sfs.last)
    def growth(m: mutable.Map[(String, String), Double], name: String) =
      growthExponent(denom(lo), denom(hi), m.get((name, lo)), m.get((name, hi)))
    val parts = RelQueries.flatMap { name =>
      val wExp = growth(wall, name)
      val bExp = growth(bytes, name)
      require(bExp.forall(_ <= 1.15),
        s"SCALING GATE FAILED: $name shuffle-bytes exponent ${show(bExp)} " +
          "(want ≤ 1 — linear at worst); an intermediate result is " +
          "growing faster than the data")
      require(wExp.forall(_ <= 1.1),
        s"SCALING GATE FAILED: $name wall exponent ${show(wExp)} " +
          "(want well below 1 at these sizes)")
      Seq(s"${name}_wall_exp" -> expo(wExp), s"${name}_shuffle_bytes_exp" -> expo(bExp))
    }
    emit(Seq("soak" -> "relational_headline_plans", "sfs" -> sfs,
      "data_ratio" -> dec(denom(hi) / denom(lo), 1)) ++ parts: _*)
  }

  /** STREAMING-ADMISSION SCALE LEG: a FRESH tail of a
    * grown table under `maxBytesPerTrigger` must catch up in BOUNDED
    * micro-batches — per-batch admitted bytes never exceed the cap (plus
    * at most one file, the always-admit-one progress rule), batch count
    * grows with table bytes / cap, per-batch wall stays ~FLAT as the
    * table grows (exponent ≈ 0 — the batch is the unit of work, not the
    * backlog), and a checkpoint restart mid-catch-up resumes exactly (no
    * lost or duplicated rows under an idempotent per-batchId sink).
    *
    * Both tiers carry the same evidence: the catalog parquet table, and
    * the entity log's tail, whose admission is a byte-budgeted segment
    * prefix (at least one per trigger) — so its admission gate bounds
    * the rows of that many segments. At scale 100 the parquet table is
    * a 5M-row / 400-file shape replayed in ~hundreds of capped batches.
    *
    * Gates per (tier, scale): byte-cap admission, exactness after the
    * restart, batch count within [expected / 2, 2 × expected + 4]. The
    * summary's exponents should read sec_per_batch ≈ 0, batches ≈ 1
    * (the backlog splits, the batch doesn't grow). */
  private def tail(spark: SparkSession, a: Args): Unit = {
    val baseRows = a.long(0, 50000L)
    val scales = a.ints(1, "1,10,100")
    val (cat, wh) = warehouse(spark, "tail")
    val fs = fsOf(spark, wh)
    // the byte cap is FIXED across scales (sized off the base table) —
    // the claim under test is that a 100× backlog splits into 100×
    // batches of the same size, not 1 batch of 100× the size
    val caps = mutable.Map[Tier, Long]()
    val secPerBatch = mutable.Map[(Tier, Int), Double]()
    val batchCounts = mutable.Map[(Tier, Int), Double]()

    for (scale <- scales; tier <- Tiers) {
      val n = baseRows * scale
      val src = if (tier.log) s"$wh/logtail$scale" else s"$wh/lake/t"
      val files = if (tier.log) {
        tier.rows(spark, n, scale, users = 9973)
          .write.format(LimitHashLog.FORMAT).mode("append").save(src)
        fs.listStatus(new Path(src)).filter(s => s.isFile &&
          !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
      } else {
        versionedTable(spark, cat, wh, tier, n, scale)
        parquetFiles(fs, new Path(src, "data"))
      }
      val totalBytes = files.map(_.getLen).sum
      val maxFileBytes = math.max(1L, files.map(_.getLen).max)
      val cap = caps.getOrElseUpdate(tier, math.max(1L, totalBytes / 4))
      emit("setup" -> s"${tier.prefix}tail", "scale" -> scale, "rows" -> n,
        (if (tier.log) "segments" else "files") -> files.length, "bytes" -> totalBytes, "cap" -> cap)

      // a batch's (rows, key sum, admitted size): the bytes of the files
      // it read on parquet, its rows on the log (segments carry no name)
      val sizeByPath = files.map(s => s.getPath.toUri.getPath -> s.getLen).toMap
      val limit =
        if (tier.log) (math.max(1L, cap / maxFileBytes) + 1L) * math.max(1L, n / (4L * scale))
        else math.max(cap, maxFileBytes) + maxFileBytes
      def measure(df: DataFrame): (Long, Long, Long) =
        if (tier.log) {
          val r = df.agg(count(lit(1)), sum(col("amount"))).head
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(0))
        } else {
          val agg = df.groupBy(input_file_name().as("f"))
            .agg(count(lit(1)).as("c"), sum(col("k")).as("s")).collect()
          (agg.map(_.getLong(1)).sum,
            agg.map(r => Option(r.get(2)).fold(0L)(_.asInstanceOf[Long])).sum,
            agg.map(r => sizeByPath.getOrElse(new java.net.URI(r.getString(0)).getPath, 0L)).sum)
        }
      // idempotent per-batchId sink: a replayed batch overwrites its
      // own slot, so totals stay exact across stop/restart
      val perBatch = new ConcurrentHashMap[Long, (Long, Long, Long)]()
      val walls = new ConcurrentLinkedQueue[Double]()
      val lastEnd = new AtomicLong(System.nanoTime())
      def handle(df: Dataset[Row], id: Long): Unit = {
        val m = measure(df)
        if (m._1 > 0) {
          perBatch.put(id, m)
          val now = System.nanoTime()
          walls.add((now - lastEnd.getAndSet(now)) / 1e9)
        }
        ()
      }
      val ck = Files.createTempDirectory(s"graft_st_${tier.prefix}ck$scale").toString
      def start() = {
        val r = spark.readStream.option("maxBytesPerTrigger", cap.toString)
        (if (tier.log) r.format(LimitHashLog.FORMAT).load(src) else r.table(s"$cat.lake.t"))
          .writeStream.option("checkpointLocation", ck).foreachBatch(handle _).start()
      }
      // tail fresh, STOP mid-catch-up after ~1/3 of the expected
      // batches, then resume from the checkpoint
      val stopAt = math.max(1, (totalBytes / cap / 3).toInt)
      val (resumedFrom, wallSec) = timed {
        val q1 = start()
        while (q1.isActive && perBatch.size < stopAt) Thread.sleep(20)
        q1.stop()
        q1.awaitTermination()
        val resumed = perBatch.size
        val q2 = start()
        q2.processAllAvailable()
        q2.stop()
        resumed
      }

      val snap = perBatch.values.asScala.toSeq
      val batches = snap.size
      val rowsSeen = snap.map(_._1).sum
      val sumSeen = snap.map(_._2).sum
      val maxBatch = (0L +: snap.map(_._3)).max
      val unit = if (tier.log) "rows" else "bytes"
      // ---- hard gates ----
      require(maxBatch <= limit,
        s"${tier.gate}ADMISSION GATE FAILED at scale $scale: batch of $maxBatch $unit " +
          s"exceeds $limit (cap $cap plus the always-admit-one allowance)")
      require(rowsSeen == n && sumSeen == n * (n - 1) / 2,
        s"${tier.gate}EXACTNESS GATE FAILED at scale $scale after mid-catch-up restart: " +
          s"rows $rowsSeen/$n sum $sumSeen/${n * (n - 1) / 2}")
      val expected = (totalBytes.toDouble / cap).ceil.toInt
      require(batches >= expected / 2 && batches <= 2 * expected + 4,
        s"${tier.gate}BATCH-COUNT GATE FAILED at scale $scale: $batches batches for " +
          s"expected ≈ $expected")
      val medWall = median(walls.asScala.toSeq)
      secPerBatch((tier, scale)) = medWall
      batchCounts((tier, scale)) = batches.toDouble
      emit("op" -> s"${tier.prefix}tail_catchup", "scale" -> scale, "batches" -> batches,
        "resumed_after" -> resumedFrom, s"max_batch_$unit" -> maxBatch, "cap" -> cap,
        "rows" -> rowsSeen, "sec" -> dec(wallSec), "sec_per_batch_med" -> dec(medWall, 4),
        "exact" -> true)
      spark.catalog.clearCache()
    }

    emit(Seq("soak" -> "tail_admission_batch_is_the_unit_of_work", "base_rows" -> baseRows,
      "scales" -> scales) ++ Tiers.flatMap { t =>
        Seq(s"${t.prefix}sec_per_batch" -> expo(overScales(scales)(s => secPerBatch.get((t, s)))),
          s"${t.prefix}batches" -> expo(overScales(scales)(s => batchCounts.get((t, s)))))
      }: _*)
  }

  /** MoR DML SCALE LEG: runs the production
    * merge-on-read DML paths against tables of growing size with a
    * FIXED-size matched delta, and reports wall seconds and BYTES
    * WRITTEN per (op, scale). The lightweight-DML claim is
    * O(matched + inserted) write amplification — bytes must stay ~flat
    * as the table grows 1×/10×/100× (growth exponent ≈ 0), while wall
    * time may grow sublinearly with the file count (footer
    * classification is O(files)). The purge op is the deliberate
    * exception: it IS the deferred rewrite, so its cost tracks the
    * masked-file count by design and is reported for the churn budget,
    * not for an exponent claim.
    *
    * Ops per scale, on a fresh versioned range-clustered table:
    *   - merge_mask:  1 000 scattered keys, UPDATE arm → per-file key masks
    *   - update_mask: predicate UPDATE on a clustered 1 000-key range
    *     (parquet tier)
    *   - merge_dv:    5 000 scattered keys with maxMaskKeys=100 → DV regime
    *     (baseRows must be ≥ 5 000: the keys stride by baseRows / 5 000)
    *   - dv_fold:     CALL compact_masks — every file's stack folded into
    *     ONE DV on a hardlink (parquet tier)
    *   - purge:       CALL purge_masks (the deferred rewrite, measured)
    *
    * The log tier (`log_` ops, line-ordinal DVs) carries the same
    * claims: key masks and positional DVs are O(matched) bytes however
    * large the log grows. */
  private def dml(spark: SparkSession, a: Args): Unit = {
    val baseRows = a.long(0, 50000L)
    val scales = a.ints(1, "1,10,100")
    val (cat, wh) = warehouse(spark, "dml")
    val fs = fsOf(spark, wh)
    val secs = mutable.Map[(String, Int), Double]()
    val bytes = mutable.Map[(String, Int), Double]()
    def dvBytes(dir: String): Long = {
      val d = new Path(dir, DeletionVectors.DIR)
      if (!fs.exists(d)) 0L else fs.listStatus(d).filter(_.isFile).map(_.getLen).sum
    }

    spark.conf.set(DeleteMasks.MODE_KEY, "merge-on-read")
    try for (scale <- scales; tier <- Tiers) {
      val n = baseRows * scale
      val dir = versionedTable(spark, cat, wh, tier, n, scale)
      val fq = s"$cat.lake.${tier.table}"
      if (!tier.log)
        emit("setup" -> "table", "scale" -> scale, "rows" -> n, "files" -> tier.live(dir).size)
      // bytes written = the files the ledger gained + DV sidecar growth
      def timedOp(op: String)(body: => Any): Unit = {
        val before = tier.live(dir)
        val dvBefore = dvBytes(dir)
        val (_, sec) = timed(body)
        val written = (tier.live(dir) -- before).toSeq.map { nm =>
          try fs.getFileStatus(tier.file(dir, nm)).getLen
          catch { case _: FileNotFoundException => 0L }
        }.sum + math.max(0L, dvBytes(dir) - dvBefore)
        secs((tier.prefix + op, scale)) = sec
        bytes((tier.prefix + op, scale)) = written.toDouble
        val masks = tier.masks(dir)
        emit("op" -> (tier.prefix + op), "scale" -> scale, "sec" -> dec(sec),
          "bytes_written" -> written, "masked_files" -> masks.size,
          "dv_entries" -> masks.valuesIterator.flatten.count(DeletionVectors.isDv))
      }

      // 1000 matched keys SCATTERED across the whole key range — the
      // CDC trickle shape; every file is a candidate
      val stride = n / 1000L
      spark.range(1000).selectExpr(s"${tier.keyOf(s"id * $stride")} AS k", "id AS nv")
        .createOrReplaceTempView("sd_src")
      timedOp("merge_mask") {
        spark.sql(s"""MERGE INTO $fq t USING sd_src s ON t.${tier.key} = s.k
                      WHEN MATCHED THEN UPDATE SET ${tier.value} = s.nv""")
      }
      if (!tier.log) timedOp("update_mask") {
        spark.sql(s"UPDATE $fq SET v = v + 1 WHERE k >= 100 AND k < 1100")
      }
      val stride5 = n / 5000L
      spark.range(5000).selectExpr(s"${tier.keyOf(s"id * $stride5 + 7")} AS k")
        .createOrReplaceTempView("sd_dv_src")
      spark.conf.set(ParquetMoRMerge.MAX_MASK_KEYS_KEY, "100")
      try timedOp("merge_dv") {
        spark.sql(s"""MERGE INTO $fq t USING sd_dv_src s ON t.${tier.key} = s.k
                      WHEN MATCHED THEN DELETE""")
      } finally spark.conf.unset(ParquetMoRMerge.MAX_MASK_KEYS_KEY)
      if (!tier.log) {
        // the hardlinks share their data bytes, so the ledger diff of
        // timedOp would lie; the CALL reports its own sidecar_bytes
        val (row, sec) = timed(spark.sql(
          s"CALL $cat.system.compact_masks(table => 'lake.t', min_preds => 1)").head)
        secs(("dv_fold", scale)) = sec
        bytes(("dv_fold", scale)) = row.getLong(4).toDouble
        emit("op" -> "dv_fold", "scale" -> scale, "sec" -> dec(sec),
          "bytes_written" -> row.getLong(4), "compacted" -> row.getLong(1),
          "unmasked" -> row.getLong(2))
      }
      timedOp("purge") {
        spark.sql(s"CALL $cat.system.purge_masks(table => 'lake.${tier.table}')")
      }
      spark.catalog.clearCache()
    } finally spark.conf.unset(DeleteMasks.MODE_KEY)

    val ops = Seq("merge_mask", "update_mask", "merge_dv", "dv_fold", "purge",
      "log_merge_mask", "log_merge_dv", "log_purge")
    def series(m: mutable.Map[(String, Int), Double], suffix: String) =
      ops.map(o => s"${o}_$suffix" -> expo(overScales(scales)(s => m.get((o, s)))))
    emit(Seq("soak" -> "dml_growth_exponent_0_is_O(matched)", "base_rows" -> baseRows,
      "scales" -> scales) ++ series(secs, "sec") ++ series(bytes, "bytes"): _*)
  }

  /** CONCURRENT MULTI-WRITER DML LEG: the one-shot race
    * specs (AdviceR11/R12/R13) pin each conflict window once; this
    * measures SUSTAINED two-writer MERGE churn with concurrent mask
    * maintenance — the steady state of a shared 100 TB upsert table:
    *
    *   - two writer threads each run `rounds` merge-on-read MERGEs that
    *     INCREMENT the value on DISJOINT scattered key sets (adjacent
    *     keys, so both writers mask the SAME files every round — maximum
    *     MaskGuard contention; baseRows must be ≥ 1 000 so the two key
    *     sets stay disjoint);
    *   - a maintenance thread folds mask stacks (`compact_masks`; on the
    *     log tier `purge_masks`) continuously while they run;
    *   - correctness gate: after the dust settles every touched key must
    *     read value = key + rounds EXACTLY — an under-increment is a LOST
    *     update (a publish that overwrote a concurrent mask), an
    *     over-increment a double-applied retry — and untouched rows must
    *     be bit-identical in aggregate.
    *
    * Reported per (tier, scale): per-writer wall seconds, MaskConflict
    * retries ([[ParquetVersions.maskConflictRetries]]), maintenance
    * folds/purges, lost/over updates (must be 0). Two scales give the
    * parquet tier's wall-time growth exponent — contention cost must not
    * super-scale with table size (the conflict window is per-FILE mask
    * drift, not table scan). The log tier runs the line-ordinal DV
    * machinery under the same contention. */
  private def concurrent(spark: SparkSession, a: Args): Unit = {
    val baseRows = a.long(0, 50000L)
    val scales = a.ints(1, "1,10")
    val rounds = a.int(2, 6)
    val nKeys = 500
    val (cat, wh) = warehouse(spark, "concurrent")
    val wall = mutable.Map[(Tier, Int, Int), Double]() // (tier, writer, scale)

    // sustained contention needs a deeper retry budget than
    // interactive DML's 3 attempts
    withProps("graft.mor.retry.attempts" -> "64") {
      for (scale <- scales; tier <- Tiers) {
        val n = baseRows * scale
        val fq = s"$cat.lake.${tier.table}"
        versionedTable(spark, cat, wh, tier, n, scale, users = 97)
        // writer w updates keys id*stride + w: adjacent to the other
        // writer's keys, so every round both writers mask the same files
        val stride = n / nKeys
        (0 to 1).foreach { w =>
          spark.range(nKeys).selectExpr(s"${tier.keyOf(s"id * $stride + $w")} AS k")
            .createOrReplaceTempView(s"sc_src_$w")
        }
        spark.conf.set(DeleteMasks.MODE_KEY, "merge-on-read")
        val retries0 = ParquetVersions.maskConflictRetries.get()
        val errors = new ConcurrentLinkedQueue[Throwable]()
        val writersDone = new AtomicBoolean(false)
        var maintained = 0L
        def thread(name: String)(body: => Unit): Thread = new Thread(() => {
          try body catch { case t: Throwable => errors.add(t); () }
        }, name)
        val writers = (0 to 1).map { w =>
          thread(s"soak-${tier.prefix}writer-$w") {
            val (_, sec) = timed((1 to rounds).foreach { _ =>
              spark.sql(s"""MERGE INTO $fq t USING sc_src_$w s
                            ON t.${tier.key} = s.k
                            WHEN MATCHED THEN UPDATE SET ${tier.value} = t.${tier.value} + 1""")
            })
            wall.synchronized { wall((tier, w, scale)) = sec }
          }
        }
        val maint = thread(s"soak-${tier.prefix}maint") {
          while (!writersDone.get()) {
            if (tier.log) {
              spark.sql(s"CALL $cat.system.purge_masks(table => 'lake.lg', min_preds => 3)")
              maintained += 1
              Thread.sleep(150L)
            } else {
              maintained += spark.sql(
                s"CALL $cat.system.compact_masks(table => 'lake.t', min_preds => 2)").head.getLong(1)
              Thread.sleep(100L)
            }
          }
        }
        maint.start(); writers.foreach(_.start())
        writers.foreach(_.join())
        writersDone.set(true)
        maint.join()
        spark.conf.unset(DeleteMasks.MODE_KEY)
        if (!errors.isEmpty) {
          errors.forEach(_.printStackTrace())
          throw new IllegalStateException(s"${tier.gate}concurrent soak leg scale=$scale " +
            s"had ${errors.size} writer/maint failures")
        }
        val retries = ParquetVersions.maskConflictRetries.get() - retries0
        // correctness gate: every touched key incremented EXACTLY rounds
        // times; everything else untouched (count + sum fingerprint)
        val touched = s"(${tier.id} % $stride) IN (0, 1) AND ${tier.id} < ${stride * nKeys}"
        def countWhere(p: String): Long =
          spark.sql(s"SELECT count(*) FROM $fq WHERE $p").head.getLong(0)
        val bad = countWhere(s"$touched AND ${tier.value} != ${tier.id} + $rounds")
        val untouchedBad = countWhere(s"NOT ($touched) AND ${tier.value} != ${tier.id}")
        val total = spark.table(fq).count()
        emit("op" -> s"${tier.prefix}concurrent_merge", "scale" -> scale, "rows" -> n,
          "writer0_sec" -> dec(wall.getOrElse((tier, 0, scale), -1.0)),
          "writer1_sec" -> dec(wall.getOrElse((tier, 1, scale), -1.0)), "retries" -> retries,
          (if (tier.log) "purges" else "folds") -> maintained,
          "lost_or_double" -> (bad + untouchedBad), "row_count_ok" -> (total == n))
        require(bad == 0L && untouchedBad == 0L && total == n,
          s"${tier.gate}LOST UPDATES at scale=$scale: touched=$bad " +
            s"untouched=$untouchedBad total=$total/$n")
        spark.catalog.clearCache()
      }
    }

    emit(Seq("soak" -> "concurrent_two_writer_merge", "base_rows" -> baseRows,
      "scales" -> scales, "rounds" -> rounds) ++ (0 to 1).map { w =>
        s"writer${w}_wall_exp" -> expo(overScales(scales)(s => wall.get((Tier(log = false), w, s))))
      }: _*)
  }

  /** SHARDED-SIDECAR SCALE LEG: the shard
    * store claims a COLD plan's sidecar I/O is O(probe set), not O(live
    * files), even right after a fold of a thousands-of-files table —
    * bucketed fold shards whose hash bucket contains none of the probe's
    * candidate names are skipped without being read
    * ([[SidecarShards.readAll]]'s candidate filter). StatsSidecarSpec
    * proves the mechanism at unit shape; this leg measures it against
    * file-count growth and GATES on the growth exponents.
    *
    * Per scale (files = commits × scale): the table grows through the
    * ORGANIC accumulation shape — every commit is followed by a
    * selective plan, which learns the new files' footers, appends ONE
    * delta shard, and folds on the threshold crossing, exactly as
    * production planning does. After growth the tail is folded and the
    * COLD PROBE measured: `readAll` with a 2-file candidate set (the
    * shape of a selective probe's pass-1 survivors) counting sidecar
    * files and bytes actually read, vs the full-store read a maintenance
    * pass pays.
    *
    * Gates: probe bytes growth exponent ≤ 0.35 vs a 100× file count
    * (hard bound per scale: probe files ≤ candidate buckets + a small
    * constant), while the full-store read grows ~linearly (exponent ≈ 1
    * — the contrast proving the probe path, not the store, is what stays
    * flat). A correctness net pins that the folded, bucketed store still
    * serves planning: the selective plan answers exactly.
    *
    * Buckets are soak-sized (64 entries vs the 4096 production default,
    * unless `graft.sidecar.fold.perbucket` is set) so the skip mechanism
    * is exercised at soak-scale file counts — the exponent is a property
    * of the mechanism, not the constant. */
  private def sidecars(spark: SparkSession, a: Args): Unit = {
    val commits = a.int(0, 40)
    val scales = a.ints(1, "1,10,100")
    val (cat, wh) = warehouse(spark, "sidecars")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = fsOf(spark, wh)
    val probeBytes = mutable.Map[Int, Double]()
    val probeFiles = mutable.Map[Int, Double]()
    val fullBytes = mutable.Map[Int, Double]()
    val rowsPerFile = 100

    withProps("graft.sidecar.fold.perbucket" ->
        sys.props.getOrElse("graft.sidecar.fold.perbucket", "64")) {
      for (scale <- scales) {
        val fpc = scale // files per commit; total = commits × scale
        spark.sql(s"DROP TABLE IF EXISTS $cat.lake.t")
        spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v BIGINT)")
        val dataDir = new Path(s"$wh/lake/t", "data")
        val (_, growSec) = timed(for (c <- 0 until commits) {
          val lo = c.toLong * fpc * rowsPerFile
          spark.range(lo, lo + fpc.toLong * rowsPerFile)
            .selectExpr("id AS k", "id * 2 AS v")
            .repartition(fpc)
            .writeTo(s"$cat.lake.t").append()
          // organic accumulation: the selective plan after each commit
          // learns the fresh footers → appends one delta shard → folds
          // when the member count crosses the threshold
          val got = spark.sql(s"SELECT count(*) AS n FROM $cat.lake.t WHERE k = ${lo + 1}")
            .head().getLong(0)
          require(got == 1L, s"probe ${lo + 1} answered $got at scale $scale")
          spark.catalog.clearCache()
        })
        // collapse the un-folded tail so the cold probe measures the
        // folded, bucketed state (the post-fold moment the claim is about)
        val live = parquetFiles(fs, dataDir).map(st =>
          PartitionSpecs.relFromData(st.getPath) -> ((st.getLen, st.getModificationTime))).toMap
        withProps("graft.sidecar.fold.threshold" -> "2") {
          ParquetFooterStats.maybeFold(conf, dataDir, live)
        }
        // COLD PROBE: a selective plan's candidate set after partition
        // pruning — 2 specific files. Count what readAll actually opens.
        val candidates = live.keys.toSeq.sorted.take(2).toSet
        val probed = SidecarShards.readAll(conf, dataDir, "_fstats", Some(candidates))
        val pBytes = probed.map(_._2.length.toLong).sum
        // the full-store read (maintenance / fold shape) for contrast
        val full = SidecarShards.readAll(conf, dataDir, "_fstats", None)
        val fBytes = full.map(_._2.length.toLong).sum
        // hard gates: the probe read a strict subset, bounded by its
        // candidate buckets (2 candidates → ≤ 2 buckets) + any delta tail
        require(probed.size <= 4,
          s"PROBE GATE FAILED at scale $scale: read ${probed.size} sidecar files " +
            s"for a 2-file candidate set (want ≤ 2 buckets + slack)")
        require(fBytes >= pBytes,
          s"probe read more than the full store at scale $scale?!")
        // correctness net: the folded+bucketed store still serves the
        // plan — the selective probe answers exactly
        val probeKey = (commits - 1).toLong * fpc * rowsPerFile + 1
        require(spark.sql(s"SELECT count(*) AS n FROM $cat.lake.t WHERE k = $probeKey")
            .head().getLong(0) == 1L,
          s"CORRECTNESS GATE FAILED at scale $scale after fold")
        probeBytes(scale) = pBytes.toDouble
        probeFiles(scale) = probed.size.toDouble
        fullBytes(scale) = fBytes.toDouble
        emit("op" -> "sidecar_cold_probe", "scale" -> scale, "files" -> live.size,
          "commits" -> commits, "probe_files_read" -> probed.size, "probe_bytes_read" -> pBytes,
          "full_files" -> full.size, "full_bytes" -> fBytes, "grow_sec" -> dec(growSec, 1))
        spark.catalog.clearCache()
      }
    }

    // the headline gate: probe I/O flat (exponent ≈ 0) while the store
    // itself grows (full_bytes exponent ≈ 1 — the contrast)
    val pExp = overScales(scales)(probeBytes.get)
    require(pExp.forall(_ <= 0.35),
      s"SCALING GATE FAILED: probe bytes exponent ${show(pExp)} (want ≈ 0) — " +
        "cold-plan sidecar I/O is growing with the table, not the probe set")
    emit("soak" -> "sidecar_probe_io_is_o_probe_set", "commits" -> commits, "scales" -> scales,
      "probe_bytes" -> expo(pExp), "probe_files" -> expo(overScales(scales)(probeFiles.get)),
      "full_bytes" -> expo(overScales(scales)(fullBytes.get)))
  }

  /** PERSISTED-ANN SERVING-PATH SCALE LEG: the
    * IVF index claims (a) search cost is O(probed lists) — with the
    * adaptive `k ≈ sqrt(n)` sizing policy the probed rows grow ~sqrt(n),
    * NOT ~n — (b) per-batch maintenance (the maintainStream body:
    * refresh + deltaDrift + hygiene) is O(delta), flat in corpus size,
    * and (c) a full online rebuild stays O(n) — linear, never worse.
    * IvfIndexSpec proves the mechanisms at unit shape; this leg measures
    * them against 1/10/100× corpus growth and GATES on the exponents.
    *
    * Per scale (n = base × scale): a corpus of n vectors is CTAS'd,
    * versioned, and indexed at the POLICY cell count
    * ([[IvfIndex.adaptiveCellCount]]); a fixed-size delta (the same
    * `delta` rows at every scale — per-batch work must not depend on
    * corpus size) appends through the change feed and the full
    * maintenance batch body is timed; a cold planted-copy search is
    * timed (median of 3 after one warm-up) alongside the EXACT rows the
    * probed-cell scan reads (Σ probed-cell sizes — the work metric, free
    * of driver-job constant noise); then an AutoK online
    * [[IvfIndex.rebuild]] is timed and the new generation's cell count
    * asserted at the policy value. A FROZEN-k (16) twin index is
    * measured at each scale for the contrast: its probed rows grow ~n
    * (exponent ≈ 1) — exactly the degeneration the adaptive policy
    * exists to prevent.
    *
    * Gates (log-log exponents between the smallest and largest scale,
    * denominated in the corpus size AT MEASUREMENT time):
    *   - adaptive probed-rows exponent ≤ 0.7, raw and quantized (the
    *     sqrt-n path carries a size-biased sampling tax: a query probes
    *     its own neighborhood's cells, which are the above-average ones,
    *     and the fixture has 32 natural clusters for k-means to split —
    *     measured ≈ 0.63–0.66; brute force / frozen-k reads 1.0);
    *   - frozen-k probed-rows exponent ≥ 0.9 (the contrast: with 32
    *     uniform probes over 16 frozen cells EVERY cell is probed and
    *     the "index" degenerates to a full scan — measured exactly 1.0);
    *   - per-batch maintenance wall exponent ≤ 0.4 (O(delta) claim);
    *   - rebuild wall exponent ≤ 1.3 (linear, never worse);
    *   - correctness net at EVERY scale: planted-copy queries answer
    *     exactly (smallest id of the copy's residue class) both before
    *     and after the rebuild, on every layout, and the rebuilt
    *     generation's cell count equals the policy value.
    *
    * The SQ8 and IVF-PQ layouts run the same planted queries and work
    * metric over their code lists (gates: both coarse-scan exponents
    * ≤ 0.7), and the PQ layout adds the INDEX-SIZE evidence — physical
    * list bytes per vector across raw/SQ8/PQ, gated at the largest scale
    * on PQ ≤ 0.7 × SQ8 (expected ≈ 0.4–0.6: 8 + 4 payload bytes per
    * vector vs 32 + 8 before the shared vec_id/cell overhead). */
  private val AnnDim = 32

  /** Deterministic synthetic embeddings, generated DISTRIBUTED (no
    * driver-side materialization): 32 archetype directions plus a
    * small hash perturbation — k-means finds real cluster structure,
    * and a planted copy's unique global top-1 is its original for ids
    * below the repeat period (lcm(32, 251) = 8032; ties break to the
    * smaller nid). */
  private def annCorpus(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${AnnDim - 1}), d -> CAST(
                 (CASE WHEN d = id % $AnnDim THEN 1.0 ELSE 0.05 END)
                 + 0.005 * (((id * 31 + d * 17) % 251) - 125) AS FLOAT))""")
        .as("embedding"))

  private def ann(spark: SparkSession, a: Args): Unit = {
    val base = a.int(0, 2000)
    val delta = a.int(1, 2000)
    val scales = a.ints(2, "1,10,100")
    val (cat, wh) = warehouse(spark, "ann")
    import spark.implicits._

    // global warm-up so scale 1 doesn't carry the JVM/codegen tax that
    // would flatter every growth exponent
    annCorpus(spark, 0, 500).createOrReplaceTempView("soakann_warm")
    spark.sql(s"CREATE TABLE $cat.lake.warm AS SELECT * FROM soakann_warm")
    IvfIndex.build(spark, spark.table(s"$cat.lake.warm"), s"$cat.lake.iwarm", k = 8)
    IvfIndex.search(spark, spark.table(s"$cat.lake.warm").filter(col("vec_id") === 7L)
        .select((col("vec_id") + 100000).as("qid"), col("embedding").as("qe")),
      s"$cat.lake.iwarm", nProbe = 2, topK = 1).collect()

    // per-scale measurements, keyed by (metric, scale)
    val at = mutable.Map[(String, Int), Double]()
    for (scale <- scales) {
      val n = base.toLong * scale
      val fq = s"$cat.lake.ix$scale"
      val fqF = s"$cat.lake.ixf$scale"
      val corpusTbl = s"$cat.lake.c$scale"
      val corpusDir = s"$wh/lake/c$scale"
      spark.sql(s"DROP TABLE IF EXISTS $corpusTbl")
      annCorpus(spark, 0, n).createOrReplaceTempView(s"soakann_c$scale")
      spark.sql(s"CREATE TABLE $corpusTbl AS SELECT * FROM soakann_c$scale")
      ParquetVersions.enable(corpusDir) // v1
      val kPolicy = IvfIndex.adaptiveCellCount(n)
      IvfIndex.build(spark, spark.table(corpusTbl), fq, k = kPolicy, indexedVersion = 1L)
      // the FROZEN-k contrast twin — the failure mode made visible
      IvfIndex.build(spark, spark.table(corpusTbl), fqF, k = 16, indexedVersion = 1L)

      // --- (b) per-batch maintenance: the maintainStream batch body on
      // a FIXED-SIZE delta — O(delta) means this wall ignores n
      annCorpus(spark, n, n + delta).createOrReplaceTempView(s"soakann_d$scale")
      spark.sql(s"INSERT INTO $corpusTbl SELECT * FROM soakann_d$scale")
      ParquetVersions.catchUp(corpusDir)
      val v0 = IvfIndex.indexedVersion(spark, fq)
      val (_, mWall) = timed {
        val v1 = IvfIndex.refresh(spark, corpusDir, fq)
        IvfIndex.deltaDrift(spark, corpusDir, v0, v1, fq)
        IvfIndex.hygiene(spark, fq)
      }
      IvfIndex.refresh(spark, corpusDir, fqF) // keep the twin current too

      // --- (a) cold search: planted copies of 16 ids spread UNIFORMLY
      // across the whole id range, so the probed cells sample the
      // data-adaptive partition like real traffic would (a low-id-only
      // query set samples only the first archetypes' cells). The
      // synthetic repeats with period lcm(32, 251) = 8032, so a copy's
      // exact top-1 is the SMALLEST id in its residue class — id % 8032
      // — which the corpus always contains (ids are dense from 0).
      val qIds = (0 until 16).map(i => (i.toLong * (n / 17)) % n).distinct
      val qVecs = spark.table(corpusTbl)
        .filter(col("vec_id").isin(qIds.map(Long.box): _*))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toMap
      val queries = qIds.map(id => (id + 1000000L, qVecs(id))).toDF("qid", "qe")
      queries.cache().count()
      def answers(found: DataFrame): Map[Long, Long] =
        found.select(col("qid"), col("nid")).collect()
          .map(r => (r.getLong(0) - 1000000L) -> r.getLong(1)).toMap
      def exact(got: Map[Long, Long], layout: String): Unit =
        require(qIds.forall(id => got.get(id).contains(id % 8032L)),
          s"CORRECTNESS GATE FAILED at scale $scale ($layout): planted copies " +
            s"must answer exactly, got ${got.toSeq.sorted.take(4)}…")
      // median of 3 exactness-gated searches after one warm-up; `cold`
      // drops every cache but the query set before each
      def measure(layout: String, cold: Boolean)(search: => DataFrame): Double = {
        answers(search)
        median((1 to 3).map { _ =>
          if (cold) { spark.catalog.clearCache(); queries.cache().count() }
          val (got, w) = timed(answers(search))
          exact(got, layout)
          w
        })
      }
      // the WORK metric, free of driver-job constants: exactly the rows
      // the probed-cell scan reads, re-derived from the probe rule (each
      // query probes its 2 nearest centroids by squared L2 distance)
      def rowsProbed(f: String): Long = {
        val cs = IvfIndex.centroidsOf(spark, f)
        val cells = qVecs.values.toSeq.flatMap { q =>
          cs.indices.sortBy(c => q.indices.map { i => val t = q(i) - cs(c)(i); t * t }.sum).take(2)
        }.distinct
        spark.table(IvfIndex.assignTableName(spark, f))
          .filter(col("cell").isin(cells.map(Integer.valueOf): _*)).count()
      }
      val sWall = measure("raw", cold = true)(
        IvfIndex.search(spark, queries, fq, nProbe = 2, topK = 1))
      val pRows = rowsProbed(fq)
      val pRowsF = rowsProbed(fqF)

      // --- (a') the QUANTIZED layout (SQ8 — the preferred shape at
      // 100 TB: ~4× leaner lists, coarse pass over codes, exact refine
      // against the corpus through InSet file skipping)
      val fqQ = s"$cat.lake.ixq$scale"
      IvfIndex.buildQuantized(spark, spark.table(corpusTbl), corpusTbl, fqQ, k = kPolicy)
      val qWall = measure("quantized", cold = false)(
        IvfIndex.searchQuantized(spark, queries, fqQ, nProbe = 2, topK = 1))
      val pRowsQ = rowsProbed(fqQ)

      // --- (a'') the PRODUCT-QUANTIZED layout (IVF-PQ, m = 8 → 8 code
      // bytes + one norm per vector vs SQ8's 32 + 8 — the compression
      // step that keeps a 100 TB corpus's index in cluster memory).
      // refineFactor 16, not the default 4: PQ reconstructs from an
      // m-byte code against sample-fit codebooks, so a sparsely-sampled
      // pattern's own reconstruction can rank below other patterns'
      // coarse scores — the standard IVF-PQ serving posture is a WIDER
      // exact-refine pool than SQ8's (FAISS guidance; the refine is
      // cheap: 16 ids per query through the InSet ladder). At scale 100
      // this fixture fits 256-entry codebooks on a 7k-row sample of a
      // 202k corpus — exactly the sparse regime that needs the width.
      val fqP = s"$cat.lake.ixp$scale"
      IvfIndex.buildPq(spark, spark.table(corpusTbl), corpusTbl, fqP, k = kPolicy, m = 8)
      val pWall = measure("pq", cold = false)(
        IvfIndex.searchPq(spark, queries, fqP, nProbe = 2, topK = 1, refineFactor = 16))
      val pRowsP = rowsProbed(fqP)

      // per-vector storage evidence, ENCODING-NEUTRAL: this fixture's
      // vectors repeat every 8032 ids from a small per-dim value set,
      // so parquet's dictionary encoding compresses the RAW floats in a
      // way real (near-random-float) embeddings never enjoy — the live
      // index files' sizes would understate raw and flatter nothing.
      // Re-write each layout's list projection with dictionary OFF and
      // no codec and measure THAT: the honest physical width of what a
      // high-entropy corpus would store. (fqF is the raw baseline —
      // same full corpus, raw layout.)
      def evidenceBytes(f: String, tag: String): Long = {
        val out = s"$wh/evidence_${tag}_$scale"
        spark.table(IvfIndex.assignTableName(spark, f))
          .write.mode("overwrite")
          .option("compression", "uncompressed")
          .option("parquet.enable.dictionary", "false")
          .parquet(out)
        val fs = fsOf(spark, out)
        val b = parquetFiles(fs, new Path(out)).map(_.getLen).sum
        fs.delete(new Path(out), true)
        b
      }
      val bytesRaw = evidenceBytes(fqF, "raw")
      val bytesSq8 = evidenceBytes(fqQ, "sq8")
      val bytesPq = evidenceBytes(fqP, "pq")

      // --- (c) online rebuild at AutoK: wall bounded-linear, cell
      // count lands at the policy value, recall holds through the swap
      val (_, rWall) = timed(IvfIndex.rebuild(spark, spark.table(corpusTbl), corpusDir, fq))
      val kAfter = spark.table(IvfIndex.centroidsTableName(spark, fq)).count()
      require(kAfter == IvfIndex.adaptiveCellCount(n + delta),
        s"SIZING GATE FAILED at scale $scale: rebuild landed $kAfter cells, " +
          s"policy wants ${IvfIndex.adaptiveCellCount(n + delta)}")
      exact(answers(IvfIndex.search(spark, queries, fq, nProbe = 2, topK = 1)), "post-rebuild")
      queries.unpersist()

      // exponents divide by the corpus size AT MEASUREMENT TIME — the
      // fixed delta doubles the smallest scale's corpus, so dividing by
      // n would overstate every growth ratio's denominator gap
      val corpusN = n + delta
      Seq("corpus" -> corpusN.toDouble, "probed" -> pRows.toDouble,
        "frozen" -> pRowsF.toDouble, "quantized" -> pRowsQ.toDouble, "pq" -> pRowsP.toDouble,
        "search" -> sWall, "search_q" -> qWall, "search_p" -> pWall, "maint" -> mWall,
        "rebuild" -> rWall, "pq_ratio" -> bytesPq.toDouble / math.max(bytesSq8, 1L))
        .foreach { case (m, v) => at((m, scale)) = v }
      emit("op" -> "ann_scale", "scale" -> scale, "n" -> n, "k" -> kPolicy,
        "probed_rows" -> pRows, "probed_rows_frozen_k16" -> pRowsF,
        "probed_code_rows_quantized" -> pRowsQ, "probed_code_rows_pq" -> pRowsP,
        "search_wall_sec" -> dec(sWall), "search_wall_quantized_sec" -> dec(qWall),
        "search_wall_pq_sec" -> dec(pWall), "maint_batch_sec" -> dec(mWall),
        "rebuild_sec" -> dec(rWall), "delta_rows" -> delta, "list_bytes_raw" -> bytesRaw,
        "list_bytes_sq8" -> bytesSq8, "list_bytes_pq" -> bytesPq,
        "bytes_per_vec_raw" -> bytesRaw / corpusN, "bytes_per_vec_sq8" -> bytesSq8 / corpusN,
        "bytes_per_vec_pq" -> bytesPq / corpusN)
    }

    val (lo, hi) = (scales.min, scales.max)
    def growth(m: String): Option[Double] = growthExponent(
      at(("corpus", lo)), at(("corpus", hi)), at.get((m, lo)), at.get((m, hi)))
    val pExp = growth("probed")
    val pfExp = growth("frozen")
    val pqExp = growth("quantized")
    val ppExp = growth("pq")
    val mExp = growth("maint")
    val rExp = growth("rebuild")
    val pqRatio = at.get(("pq_ratio", hi))
    require(pExp.forall(_ <= 0.7),
      s"SCALING GATE FAILED: adaptive probed-rows exponent ${show(pExp)} " +
        "(want ≈ 0.5–0.65) — search work is growing faster than the " +
        "sqrt-n path plus its size-biased sampling tax allows")
    require(mExp.forall(_ <= 0.4),
      s"SCALING GATE FAILED: per-batch maintenance exponent ${show(mExp)} " +
        "(want ≈ 0) — the fixed-size delta's fold cost grows with the corpus")
    require(rExp.forall(_ <= 1.3),
      s"SCALING GATE FAILED: rebuild wall exponent ${show(rExp)} (want ≤ 1)")
    require(pfExp.forall(_ >= 0.9),
      s"CONTRAST BROKEN: frozen-k probed rows exponent ${show(pfExp)} should be ≈ 1 " +
        "(if this fails the soak is not measuring what it claims)")
    require(pqExp.forall(_ <= 0.7),
      s"SCALING GATE FAILED: quantized probed CODE rows exponent ${show(pqExp)} " +
        "(want ≈ 0.5–0.65) — the SQ8 coarse scan is growing faster than " +
        "the sqrt-n path plus its size-biased sampling tax allows")
    require(ppExp.forall(_ <= 0.7),
      s"SCALING GATE FAILED: PQ probed CODE rows exponent ${show(ppExp)} " +
        "(want ≈ 0.5–0.65) — the IVF-PQ coarse scan is growing faster " +
        "than the sqrt-n path plus its size-biased sampling tax allows")
    // index-size evidence gate, at the LARGEST scale where parquet
    // footers have amortized: the PQ lists must be materially leaner
    // than SQ8's (8 code bytes + 4 vs 32 + 8 per vector before the
    // shared vec_id/cell overhead → expect ≈ 0.4–0.6)
    require(pqRatio.forall(_ <= 0.7),
      s"STORAGE GATE FAILED: PQ lists are ${show(pqRatio)} of SQ8's " +
        "at the largest scale — want ≤ 0.7 (the layout exists to be smaller)")
    emit("soak" -> "ann_serving_path", "base" -> base, "delta" -> delta, "scales" -> scales,
      "probed_rows_exp" -> expo(pExp), "probed_rows_frozen_k_exp" -> expo(pfExp),
      "probed_code_rows_quantized_exp" -> expo(pqExp), "probed_code_rows_pq_exp" -> expo(ppExp),
      "search_wall_exp" -> expo(growth("search")),
      "search_wall_quantized_exp" -> expo(growth("search_q")),
      "search_wall_pq_exp" -> expo(growth("search_p")),
      "pq_to_sq8_bytes_ratio_at_max_scale" -> expo(pqRatio),
      "maint_batch_exp" -> expo(mExp), "rebuild_wall_exp" -> expo(rExp))
  }
}
