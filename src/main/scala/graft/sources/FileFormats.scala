package graft.sources

import graft.Tables
import graft.functions.Portable.{dec2, moneyStr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-format sources beyond parquet: JSON-lines and CSV, read with
  * EXPLICIT schemas — schema inference is a whole extra pass over the
  * data (a non-starter at 100 TB) and silently widens types on dirty
  * rows; production ingest pins the schema and lets malformed rows
  * fail loudly (FAILFAST here — a PERMISSIVE + corrupt-record column
  * is the quarantine variant of the same reader).
  *
  * The gate entries round-trip the events table through each format in
  * scratch space and answer ONE digest oracle computed by DuckDB over
  * the original parquet — proving the adapters preserve longs,
  * doubles, and embedded-JSON strings (quotes + commas through CSV
  * quoting/escaping), not merely that they parse. The digest touches
  * every column: exact decimal value sums, min/max timestamps, and a
  * sum over a JSON field extracted from the round-tripped `props`.
  *
  * Scale posture: write and read are both partition-parallel (one file
  * per task, no driver funnel); the digest is one groupBy over the
  * re-read — the same shape any ingest-validation job has.
  */
object FileFormats {

  /** The explicit contract schema of the round-tripped events frame. */
  private[graft] val EventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("ts_ms", LongType)))

  /** Column-complete digest of an events-shaped frame — the oracle's
    * subject. Any value/type corruption in a format adapter moves at
    * least one digest cell.
    */
  private[graft] def digest(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).cast(LongType).as("n_events"),
      countDistinct("user_id").cast(LongType).as("n_users"),
      min("ts_ms").cast(LongType).as("lo_ts"),
      max("ts_ms").cast(LongType).as("hi_ts"),
      moneyStr(sum(dec2(col("value")))).as("sum_value"),
      sum(RawIngest.payloadK(events.sparkSession, col("props")))
        .cast(LongType).as("sum_k"))
      .orderBy("event_type")

  private def roundTrip(spark: SparkSession, dir: String, fmt: String,
      writeOpts: Map[String, String], readOpts: Map[String, String]): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory(s"graft_src_$fmt").toFile
    try {
      Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "value", "props", "ts_ms")
        .write.mode("overwrite").options(writeOpts).format(fmt).save(work.toString)
      val back = spark.read.schema(EventSchema)
        .options(readOpts + ("mode" -> "FAILFAST")).format(fmt).load(work.toString)
      // materialize the digest before the scratch files vanish
      graft.Scratch.cp(digest(back))
    } finally graft.LocalFs.rmTree(work)
  }

  /** JSON-lines round-trip: one JSON object per line, splittable,
    * explicit schema (no inference pass).
    */
  def srcJsonl(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "json", Map.empty, Map.empty)

  /** CSV round-trip with header + quoting: `props` carries embedded
    * quotes and commas, so this exercises the quote/escape path, not
    * just comma splitting.
    *
    * Every lexical option is pinned EXPLICITLY on both sides. CSV has
    * no native null — with Spark's defaults both null and empty
    * string render as the empty field, so the round-trip's
    * row-exactness would silently hinge on the corpus never
    * containing either. The pinned contract keeps them distinct: null
    * renders as the unquoted sentinel `\N`, empty string as the
    * QUOTED empty field `""` — which is why `emptyValue` differs by
    * side (on write it's the text an empty value renders AS; on read
    * it's what an empty field parses BACK to). Quote and escape are
    * the defaults, pinned so a Spark default change can't silently
    * re-shape the files between write and read.
    */
  def srcCsv(spark: SparkSession, dir: String): DataFrame =
    roundTrip(spark, dir, "csv", CsvWriteOpts, CsvReadOpts)

  /** The pinned CSV lexical contract (see [[srcCsv]]) — shared by the
    * gate entry and the row-parity / null-vs-empty specs.
    */
  private[graft] val CsvWriteOpts: Map[String, String] = Map(
    "header" -> "true",
    "nullValue" -> "\\N",
    "emptyValue" -> "\"\"",
    "quote" -> "\"",
    "escape" -> "\\")

  private[graft] val CsvReadOpts: Map[String, String] =
    CsvWriteOpts + ("emptyValue" -> "")

  private val digestSql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  MIN(epoch_ms(ts)) AS lo_ts,
      |  MAX(epoch_ms(ts)) AS hi_ts,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_value,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_jsonl" -> (srcJsonl _),
    "src_csv" -> (srcCsv _))

  def oracles: Map[String, String] = Map(
    "src_jsonl" -> digestSql,
    "src_csv" -> digestSql)
}
