package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — local subset runs
    // (the driver always calls with two args = full dump)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    def keep(name: String) = only.forall(_.contains(name))
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // invariant: no dump schema may expose a DECIMAL wider than 18
        // digits — values past float64's 53-bit mantissa render
        // differently across parquet readers while being numerically
        // equal (cost green gate rows two rounds running; build notes).
        val wide = SparkEntry.wideDecimalColumns(df.schema)
        require(wide.isEmpty,
          s"$name exposes DecimalType(p>18) columns [${wide.mkString(", ")}] — " +
            "keep wide sums internal; export `CAST(sum % 9007199254740881 AS BIGINT)`")
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // also expose the single part file under the flat <name>.parquet
        // path so either driver layout (dir glob or literal file) works
        new java.io.File(s"$outDir/$name").listFiles()
          .find(f => f.getName.endsWith(".parquet"))
          .foreach { part =>
            Files.copy(part.toPath, Paths.get(s"$outDir/$name.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.release(spark)
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
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
