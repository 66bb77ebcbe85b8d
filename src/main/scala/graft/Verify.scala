package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name prefixes — builder-side
    // targeted re-verification (the driver always runs the full set)
    val only: String => Boolean = args.drop(2).headOption match {
      case Some(pfx) =>
        val ps = pfx.split(','); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Sidecar for the rows-only gates (VERDICT r9 #6): each no-oracle
    // query's registry-declared reason — which hash-exact twin proves
    // its logic and why DuckDB cannot replay this form — so a reader
    // of the correctness report never has to dig through COVERAGE.md
    // to interpret an `err no_oracle` row.
    val rowsOnly = SparkEntry.specs
      .flatMap(s => s.rowsOnlyReason.map(s.name -> _))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only_reasons.json"), rowsOnly)
    spark.stop()
  }
}
