package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Run one query and dump its result; on failure, leave an explicit
    * `_ERROR` marker dir instead of nothing. A query that crashes
    * before writing must NOT simply vanish from the artifact —
    * round 14: two crashed queries read as "removed" in the driver's
    * key diff and their crash times as bench speedups. Returns true
    * on success. */
  def dumpOne(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        val d = Paths.get(outDir, name)
        if (Files.exists(d)) { // drop partial parquet output
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
        }
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      } catch { case _: Throwable => () }
      false
    }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * oracle compare's json.load fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `oracle_sql.json`: the oracle SQL of every query whose name passes
    * `keep`, so a filtered run compares only the queries it ran. */
  def oracleJson(keep: String => Boolean): String =
    SparkEntry.oracleSql.iterator.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local use only): comma-separated name prefixes
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = Sessions.base()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var errs = List.empty[String]
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      if (!dumpOne(spark, sfDir, outDir, name, fn)) errs ::= name
      spark.catalog.clearCache()
    }
    if (errs.nonEmpty)
      System.err.println(s"[verify] ${errs.size} ERRORED: ${errs.sorted.mkString(",")}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    spark.stop()
  }
}
