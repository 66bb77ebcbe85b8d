package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, StringType}

/** S1/S2 CSV source (SURVEY.md §2.1) with the reference's GOB dialect:
  * `;` delimiter, UTF-8 with BOM, `"` quote, minimal quoting, header
  * row (/root/reference/src/dso_import/batch/csv.py:9,39,42,75).
  *
  * Reads are schema'd (all-string by default — the reference parses
  * scalars downstream, §2.2) and malformed rows are captured as a
  * dead-letter DataFrame rather than log lines (S2/P7: csv.py:46-61
  * re-expressed set-oriented).
  */
object CsvSource {

  case class CsvRead(clean: DataFrame, rejected: DataFrame)

  /** All-string schema for the given column names (reference semantics:
    * CSV fields arrive as text; typed parsing is a projection step). */
  def stringSchema(cols: Seq[String]): StructType =
    StructType(cols.map(c => StructField(c, StringType, nullable = true)))

  /** The column [[scan]] fills with the raw text of a malformed row. */
  val CorruptCol = "__corrupt_record"

  /** S5 staging freshness cache (batch/objectstore.py:43-69): run
    * `fetch` into `path` only when the file is missing or older than
    * `maxAgeHours` (mtime), making re-runs idempotent and cheap —
    * the reference's 24h download cache as a driver-side utility. */
  def freshOrFetch(path: String, maxAgeHours: Long)(fetch: String => Unit): Boolean = {
    val f = new java.io.File(path)
    val fresh = f.exists() &&
      (System.currentTimeMillis() - f.lastModified()) < maxAgeHours * 3600 * 1000
    if (!fresh) fetch(path)
    !fresh
  }

  /** S3 WKT file scan (batch/geo.py:20-32): `|`-delimited (id, WKT)
    * lines, no header, unbounded field size (WKT polygons can be MBs —
    * maxColumns/maxCharsPerColumn raised accordingly). */
  def readWktFile(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("delimiter", "|")
      .option("header", "false")
      .option("maxCharsPerColumn", "-1")
      .schema(stringSchema(Seq("id", "wkt")))
      .csv(path)

  /** The GOB-dialect scan, uncached: `schema`'s columns plus
    * [[CorruptCol]], which holds the raw text of a malformed row (a
    * field too many or too few, a broken quote) and is null otherwise.
    * `maxRows` mirrors the reference's max_rows cap (csv.py:70,80-81);
    * `strict=true` = FAILFAST (abort on first malformed row). A query
    * may not read [[CorruptCol]] alone from the scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). */
  def scan(spark: SparkSession, path: String, schema: StructType,
      maxRows: Option[Int] = None, strict: Boolean = false): DataFrame = {
    val withCorrupt = StructType(
      schema.fields :+ StructField(CorruptCol, StringType, nullable = true))
    val base = spark.read
      .option("header", "true")
      .option("delimiter", ";")
      .option("encoding", "UTF-8")   // BOM is consumed by the UTF-8 reader
      .option("quote", "\"")
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt)
      .csv(path)
    maxRows.map(base.limit).getOrElse(base)
  }

  /** Read with the GOB dialect. Returns clean + rejected splits of one
    * cached [[scan]]. */
  def read(spark: SparkSession, path: String, schema: StructType,
      maxRows: Option[Int] = None, strict: Boolean = false): CsvRead = {
    // cache the scan: both splits come from one pass, not two reads —
    // also required by Spark before filtering on the corrupt column
    // alone (see scan)
    val marked = scan(spark, path, schema, maxRows, strict).cache()
    CsvRead(
      clean = marked.filter(col(CorruptCol).isNull).drop(CorruptCol),
      rejected = marked.filter(col(CorruptCol).isNotNull)
        .select(col(CorruptCol).as("raw_record"),
          lit(path).as("source_path"),
          lit("malformed_csv").as("reject_reason")))
  }
}
