package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The session is
  * [[BenchSession.build]]'s, so the oracle checks answers under the
  * config the bench times. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: regex filter for single-query iteration (the
    // driver passes two args and dumps everything)
    val only = args.lift(2).map(_.r)
    def wanted(name: String) = only.forall(_.findFirstIn(name).isDefined)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchSession.build(sfDir, cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // flagship entry smoke (the driver's other contract check)
    val entryRows = SparkEntry.entry(spark).count()
    println(s"[verify] entry rows=$entryRows")
    require(entryRows > 0, "SparkEntry.entry returned no rows")
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
      spark.catalog.clearCache() // release operator-persisted intermediates
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a filtered run carries only its own oracle entries, so check.py
    // reports every one without output as a [MISS]
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => wanted(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
