package graft.sources

import graft.Tables
import graft.functions.{GraftFunctions, Portable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Raw export-record ingest: the reference consumes raw JSON strings
  * off the subject and JsonPath-extracts routing + entity fields
  * (NatsConsumer.listen:39-106 with JsonPathReader; `$.valueType`
  * routing, `$.value.workflowInstanceKey` keys, bpmnProcessId split).
  * `parse` is that path as one codegen'd projection — shared by the
  * batch demo operator and the graft-queue streaming source.
  */
object RawIngest {

  /** The payload field `k` of an events-shaped `props` string, as a
    * long: the one extraction every importer build and the stream's
    * record typing share (`graft_json_long(props, 'k')`, the native
    * byte-level parse; it equals
    * `CAST(get_json_object(props, '$.k') AS BIGINT)` on every input).
    * It resolves in `spark`'s function registry, so the cast takes that
    * session's ANSI mode at analysis, as the built-in cast does.
    */
  def payloadK(spark: SparkSession, props: Column): Column = {
    GraftFunctions.register(spark)
    call_function("graft_json_long", props, lit("k"))
  }

  /** Explicit export-record schema: ONE `from_json` parse per record,
    * then struct field access — the reference parses each message
    * once too (NatsConsumer.java:36, a single JsonPathReader over the
    * payload). Extracting fields one by one would re-parse the string
    * per field (7 path extractions per record in round 1, the most
    * expensive importer op in the bench); [[payloadK]] is the
    * one-field case, for frames whose record is already split.
    */
  val recordSchema: StructType = StructType(Seq(
    StructField("valueType", StringType),
    StructField("timestamp", LongType),
    StructField("value", StructType(Seq(
      StructField("workflowInstanceKey", LongType),
      StructField("bpmnProcessId", StringType),
      StructField("recordId", LongType),
      StructField("payload", StructType(Seq(
        StructField("k", LongType)))))))))

  /** Parse + route raw JSON record strings (column `value`). DEPLOYMENT
    * records are dropped (the reference ignores them, NatsConsumer:47).
    * Tenant is the FIRST-dash split (NatsConsumer.java:73-75).
    *
    * The DEPLOYMENT drop filters on the EXTRACTED `value_type` after
    * [[parseAll]]'s projection rather than on `r.valueType` between the
    * parse and the field extraction — same rows either way (a record
    * `from_json` cannot parse yields a null `value_type`, and null
    * <> 'DEPLOYMENT' is null, dropped by both forms). The split lets
    * the batch gate entry put a materialization barrier UNDER the
    * filter (see [[impRawIngest]]): filter pushdown otherwise
    * substitutes the parse expression INTO the filter condition and
    * the whole to_json→from_json chain evaluates twice per row (the
    * r18 plan audit's finding — §4.4 of the optimization playbook, the
    * duplicated-expensive-expression-under-pushed-filter shape).
    */
  def parse(raw: DataFrame): DataFrame =
    parseAll(raw).filter(col("value_type") =!= "DEPLOYMENT")

  /** The single-parse projection without the routing drop. */
  private[graft] def parseAll(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), recordSchema).as("r"))
      .select(
        col("r.value.recordId").as("record_id"),
        col("r.valueType").as("value_type"),
        col("r.value.workflowInstanceKey").as("instance_key"),
        substring_index(col("r.value.bpmnProcessId"), "-", 1).as("process_id"),
        Portable.tenantOf(col("r.value.bpmnProcessId")).as("tenant"),
        col("r.timestamp").as("ts_ms"),
        col("r.value.payload.k").as("k"))

  /** Synthesize the raw subject payloads from the events table — the
    * Zeebe-export-shaped JSON a NATS subject would carry. The bpmn id
    * is MULTI-dash ('click-proc-t3') so the first-dash tenant split is
    * actually exercised by the gate (a single-dash corpus can't tell
    * first-dash from last-dash).
    */
  def rawRecords(spark: SparkSession, dir: String): DataFrame =
    // fan out before the per-row JSON render (§2.5 input skew)
    Tables.spread(Tables.events(spark, dir), "event_id").select(to_json(struct(
      when(col("event_type").isin("click", "view", "purchase"), "VARIABLE")
        .when(col("event_type") === "signup", "PROCESS_INSTANCE")
        .otherwise("DEPLOYMENT").as("valueType"),
      col("ts_ms").as("timestamp"),
      struct(
        col("user_id").as("workflowInstanceKey"),
        concat(col("event_type"), lit("-proc-t"), (col("user_id") % 10).cast(LongType)).as("bpmnProcessId"),
        col("event_id").as("recordId"),
        struct(payloadK(spark, col("props")).as("k")).as("payload")
      ).as("value"))).as("value"))

  /** Batch demo: events → raw JSON strings → parse/route/split — the
    * full NatsConsumer string path, oracle-checked (both engines build
    * and re-extract their own JSON, so only extraction semantics are
    * compared, not serialization formats).
    *
    * The parsed rows materialize ONCE before the routing filter and
    * the presentation sort: without the barrier this query evaluated
    * its to_json→from_json chain FOUR times per surviving row — twice
    * from the pushed-down filter duplicating the parse (playbook
    * §4.4), then the whole filtered plan again in the final sort's
    * range-bounds sample pass (r18 plan audit; the A/B measured the
    * as-is query at ~2.4× the barrier form). The materialized frame is
    * the NARROW parsed projection (7 scalar columns), not the JSON
    * strings.
    */
  def impRawIngest(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.cp(parseAll(rawRecords(spark, dir)))
      .filter(col("value_type") =!= "DEPLOYMENT")
      .orderBy("record_id")

  def impRawIngestSql: String =
    """WITH raw AS (
      |  SELECT to_json(struct_pack(
      |      valueType := CASE WHEN event_type IN ('click','view','purchase') THEN 'VARIABLE'
      |                        WHEN event_type = 'signup' THEN 'PROCESS_INSTANCE'
      |                        ELSE 'DEPLOYMENT' END,
      |      "timestamp" := epoch_ms(ts),
      |      value := struct_pack(
      |        workflowInstanceKey := user_id,
      |        bpmnProcessId := CONCAT(event_type, '-proc-t', CAST(user_id % 10 AS VARCHAR)),
      |        recordId := event_id,
      |        payload := struct_pack(k := CAST(json_extract_string(props,'$.k') AS BIGINT))))) AS value
      |  FROM events),
      |b AS (
      |  SELECT value, json_extract_string(value, '$.value.bpmnProcessId') AS bpmn FROM raw)
      |SELECT
      |  CAST(json_extract_string(value, '$.value.recordId') AS BIGINT) AS record_id,
      |  json_extract_string(value, '$.valueType') AS value_type,
      |  CAST(json_extract_string(value, '$.value.workflowInstanceKey') AS BIGINT) AS instance_key,
      |  split_part(bpmn, '-', 1) AS process_id,
      |  substring(bpmn, instr(bpmn, '-') + 1) AS tenant,
      |  CAST(json_extract_string(value, '$.timestamp') AS BIGINT) AS ts_ms,
      |  CAST(json_extract_string(value, '$.value.payload.k') AS BIGINT) AS k
      |FROM b
      |WHERE json_extract_string(value, '$.valueType') <> 'DEPLOYMENT'
      |ORDER BY record_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "imp_raw_ingest" -> (impRawIngest _))

  def oracles: Map[String, String] = Map(
    "imp_raw_ingest" -> impRawIngestSql)
}
