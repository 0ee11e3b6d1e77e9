package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q177,q179 restricts the dump to a comma-separated
    // name-prefix list — a local iteration aid; the driver never sets it,
    // so the full surface runs by default
    val only = RunSelection.parse(sys.env.get("SPARK_GRAFT_ONLY"))
    def selected(name: String): Boolean = RunSelection.selects(only, name)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    writeOracleSql(outDir, selected)
    spark.stop()
  }

  /** `oracle_sql.json` in `outDir`: the oracle SQL of every selected
    * query, keyed by name.
    */
  private[graft] def writeOracleSql(outDir: String, selected: String => Boolean): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make the file
    // unparseable and silently zero the correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
