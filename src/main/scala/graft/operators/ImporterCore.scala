package graft.operators

import graft.Tables
import graft.functions.Portable._
import graft.sources.RawIngest.payloadK
import graft.streaming.StreamImport
import graft.streaming.StreamImport.TransferRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Batch re-expression of the reference importer's record-stream
  * semantics (SURVEY.md §2 "Importer core") over the `events` table —
  * the stand-in for the Zeebe export stream.
  *
  * Mapping (fixed for every operator here):
  *   - `user_id`    = workflowInstanceKey (the entity key)
  *   - `event_type` = record role: `click`/`view`/`purchase` are
  *     VARIABLE records (name = event_type, value = value), `signup` is
  *     PROCESS_INSTANCE ELEMENT_ACTIVATING, `purchase` doubles as the
  *     completion marker, `error` is the incident/failure record
  *     (fatal when payload `k >= 90`, cf. transferCreateFailed
  *     VariableParser.java:185-187).
  *   - `props`      = the record's JSON payload (JsonPath-extracted in
  *     NatsConsumer.listen via JsonPathReader; here `RawIngest.payloadK`,
  *     the one byte-level `graft_json_long` kernel every build shares).
  *   - `ts`         = record timestamp (exposed as `ts_ms`).
  *
  * The four entities (Transfer, wide Transfer, TransactionRequest,
  * Batch) are not defined here: each build runs its streaming fold
  * (`StreamImport.transferFold` / `wideFold` / `txnreqFold` /
  * `batchFold`, where the reference mapping lives) through
  * `StreamImport.entityBatch`, so batch and stream share one rule
  * set and only the `*Sql` oracles stay independent.
  *
  * Scale posture: every materialization is ONE shuffle on the entity
  * key with map-side partial aggregation (the folds' pre-fold for the
  * entities); dedups are window `row_number` (single shuffle on the
  * dedup key); the parent remap's join strategy is AQE's call (the
  * parent side is unbounded).
  */
object ImporterCore {

  private val VarTypes = Seq("click", "view", "purchase")

  /** Oracle-side rendering of the (ts_ms, event_id) record ord that
    * every last-write field is ordered by. DuckDB's arg_max can't order
    * by a row value, so the oracles use the zero-padded fixed-width
    * string rendering of the pair — lexicographic string order equals
    * numeric order for non-negative fixed-width integers, and the
    * folds compare the pair itself. The printf is order-preserving
    * ONLY for non-negative inputs (a '-' sign sorts before digits), so
    * the oracle CHECKs non-negativity loudly (DuckDB `error()`): a
    * future corpus with negative ts/ids fails the gate instead of
    * mis-ranking.
    */
  private def ordKeySqlOf(ms: String, id: String): String =
    s"CASE WHEN $ms < 0 OR $id < 0 THEN error('graft oracle: negative ordering key') " +
      s"ELSE printf('%020d%020d', $ms, $id) END"

  private def ordKeySql = ordKeySqlOf("epoch_ms(ts)", "event_id")

  /** JSON payload extraction + record-type routing
    * (NatsConsumer.listen:39-106: route on $.valueType, drop
    * DEPLOYMENT/VARIABLE_DOCUMENT — here `error` records are the
    * dropped class). The payload field is `payloadK`'s byte-level
    * parse; the filter pushes to the scan. No materialization before
    * the presentation sort: its range-bounds sample pass re-runs the
    * projection, and with the byte-level parse that second pass costs
    * no more than writing and re-reading the rows (isolated sf0.1
    * rows).
    */
  def impParseRoute(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") =!= "error")
      .select(
        col("event_id"),
        when(col("event_type").isin(VarTypes: _*), "VARIABLE")
          .when(col("event_type") === "signup", "PROCESS_INSTANCE")
          .otherwise("JOB").as("value_type"),
        payloadK(spark, col("props")).as("k"))
      .orderBy("event_id")

  def impParseRouteSql: String =
    """SELECT event_id,
      |  CASE WHEN event_type IN ('click','view','purchase') THEN 'VARIABLE'
      |       WHEN event_type = 'signup' THEN 'PROCESS_INSTANCE'
      |       ELSE 'JOB' END AS value_type,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE event_type <> 'error'
      |ORDER BY event_id""".stripMargin

  /** Variable-record dedup per (instance, name) — the reference's
    * EXACT guard (RecordParser.processVariable:137-145): a record is
    * DROPPED when its timestamp is <= the stored row's timestamp, and
    * APPENDED otherwise — so the variables table keeps, per name, the
    * strictly-increasing running-max subsequence of timestamps in
    * arrival order (event_id stands in for consumption order). One
    * shuffle on the dedup key; the running max is a rows-frame window
    * over the same partitioning.
    */
  def impVarDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // materialize-once before the presentation sort (r18 plan audit)
    graft.Scratch.cpSorted(Tables.events(spark, dir)
      .filter(col("event_type").isin(VarTypes: _*))
      .withColumn("prev_max", max(col("ts_ms")).over(w))
      .filter(col("prev_max").isNull || col("ts_ms") > col("prev_max"))
      .select(
        col("user_id"), col("event_type").as("name"),
        col("ts_ms"), col("event_id"),
        moneyStr(dec2(col("value"))).as("value_str")),
      col("user_id"), col("name"), col("event_id"))
  }

  def impVarDedupSql: String =
    """WITH v AS (
      |  SELECT user_id, event_type AS name, epoch_ms(ts) AS ts_ms, event_id,
      |    CAST(CAST(value AS DECIMAL(38,2)) AS VARCHAR) AS value_str
      |  FROM events
      |  WHERE event_type IN ('click','view','purchase'))
      |SELECT user_id, name, ts_ms, event_id, value_str
      |FROM v
      |QUALIFY ts_ms > COALESCE(MAX(ts_ms) OVER (
      |  PARTITION BY user_id, name ORDER BY event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775807)
      |ORDER BY user_id, name, event_id""".stripMargin

  /** Task dedup on (instance, elementId, intent)
    * (RecordParser.processTask:233-245: an existing
    * (workflowInstanceKey, elementId, intent) row suppresses the new
    * record). intent is derived from the payload (`k < 50` ⇒ CREATED
    * else COMPLETED); keep the lowest event_id — deterministic
    * `dropDuplicates` via row_number.
    */
  def impTaskDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("intent",
        when(payloadK(spark, col("props")) < 50, "CREATED")
          .otherwise("COMPLETED"))
    val w = Window.partitionBy("user_id", "event_type", "intent")
      .orderBy("event_id")
    // materialize-once before the presentation sort (r18 plan audit)
    graft.Scratch.cpSorted(e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("element_id"),
        col("intent"), col("event_id")),
      col("user_id"), col("element_id"), col("intent"))
  }

  def impTaskDedupSql: String =
    """SELECT user_id, event_type AS element_id,
      |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 50
      |       THEN 'CREATED' ELSE 'COMPLETED' END AS intent,
      |  event_id
      |FROM events
      |QUALIFY ROW_NUMBER() OVER (
      |  PARTITION BY user_id, event_type,
      |    CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 50
      |         THEN 'CREATED' ELSE 'COMPLETED' END
      |  ORDER BY event_id) = 1
      |ORDER BY user_id, element_id, intent""".stripMargin

  /** Instance lifecycle: startedAt = min ACTIVATING ts, completedAt =
    * max COMPLETED ts (InflightTransferManager.transferStarted/Ended;
    * min/max are the batch semantics per SURVEY.md §3). Single
    * shuffle, map-side partial agg; nulls pinned to -1 for oracle
    * portability.
    */
  def impLifecycle(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        coalesce(min(when(col("event_type") === "signup", col("ts_ms"))), lit(-1L)).as("started_ms"),
        coalesce(max(when(col("event_type") === "purchase", col("ts_ms"))), lit(-1L)).as("completed_ms"),
        count(lit(1)).cast(LongType).as("n_records"))
      .orderBy("user_id")

  def impLifecycleSql: String =
    """SELECT user_id,
      |  COALESCE(MIN(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END), -1) AS started_ms,
      |  COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END), -1) AS completed_ms,
      |  COUNT(*) AS n_records
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Variables → wide entity row, last-write-by-ts per name
    * (VariableParser.java:40-92 registry pivot;
    * RecordParser.addVariableToEntity overwrite-then-save ⇒ latest
    * surviving value wins). row_number dedup to the last record per
    * (instance, name), then a static-column pivot — the pivot list is
    * fixed (the parser registry), so no discovery pass.
    */
  def impPivotEntity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .filter(col("event_type").isin(VarTypes: _*))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("user_id")
      .pivot("event_type", VarTypes)
      .agg(max(dec2(col("value"))))
      .select(
        col("user_id"),
        coalesce(moneyStr(col("click")), lit("")).as("last_click"),
        coalesce(moneyStr(col("view")), lit("")).as("last_view"),
        coalesce(moneyStr(col("purchase")), lit("")).as("last_purchase"))
      .orderBy("user_id")
  }

  def impPivotEntitySql: String =
    """WITH lastv AS (
      |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events
      |  WHERE event_type IN ('click','view','purchase')
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1)
      |SELECT user_id,
      |  COALESCE(CAST(CAST(MAX(CASE WHEN event_type='click' THEN v END) AS DECIMAL(38,2)) AS VARCHAR), '') AS last_click,
      |  COALESCE(CAST(CAST(MAX(CASE WHEN event_type='view' THEN v END) AS DECIMAL(38,2)) AS VARCHAR), '') AS last_view,
      |  COALESCE(CAST(CAST(MAX(CASE WHEN event_type='purchase' THEN v END) AS DECIMAL(38,2)) AS VARCHAR), '') AS last_purchase
      |FROM lastv GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Terminal-status state machine: FAILED (fatal incident,
    * VariableParser.parseTransferCreateFailed:185-187) wins over
    * COMPLETED (instance ended, InflightTransferManager.transferEnded)
    * wins over the IN_PROGRESS default (Transfer ctor). Pure
    * conditional aggregation — one shuffle.
    */
  def impStatusSm(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "error" &&
          payloadK(spark, col("props")) >= 90, 1).otherwise(0)).as("failed"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("completed"))
      .select(
        col("user_id"),
        when(col("failed") === 1, "FAILED")
          .when(col("completed") === 1, "COMPLETED")
          .otherwise("IN_PROGRESS").as("status"))
      .orderBy("user_id")

  def impStatusSmSql: String =
    """SELECT user_id,
      |  CASE WHEN MAX(CASE WHEN event_type = 'error'
      |         AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
      |         THEN 1 ELSE 0 END) = 1 THEN 'FAILED'
      |       WHEN MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 THEN 'COMPLETED'
      |       ELSE 'IN_PROGRESS' END AS status
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** bpmnProcessId → (processId, tenant) split at the FIRST '-'
    * (NatsConsumer.java:73-75: tenantName = bpmn.substring(
    * bpmn.indexOf('-') + 1) — the reference's own sample ids are
    * multi-dash, 'transfer-process-tn02' → tenant 'process-tn02').
    * The bpmn id synthesized here is multi-dash too ('click-proc-t3')
    * so first-dash vs last-dash is observable in the gate.
    */
  def impTenantSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bpmn",
        concat(col("event_type"), lit("-proc-t"), (col("user_id") % 10).cast(LongType)))
      .select(
        substring_index(col("bpmn"), "-", 1).as("process_id"),
        tenantOf(col("bpmn")).as("tenant"))
      .groupBy("process_id", "tenant")
      .agg(count(lit(1)).cast(LongType).as("n"))
      .orderBy("process_id", "tenant")

  def impTenantSplitSql: String =
    """WITH b AS (
      |  SELECT CONCAT(event_type, '-proc-t', CAST(user_id % 10 AS VARCHAR)) AS bpmn
      |  FROM events)
      |SELECT split_part(bpmn, '-', 1) AS process_id,
      |       substring(bpmn, instr(bpmn, '-') + 1) AS tenant,
      |       COUNT(*) AS n
      |FROM b GROUP BY 1, 2 ORDER BY process_id, tenant""".stripMargin

  /** Sub-process → parent instance remap
    * (RecordParser.processWorkflowInstance:182-205
    * inflightCallActivities): every record is re-keyed to its root
    * instance record. The parent side is one row per workflow
    * instance — smaller than the record stream but UNBOUNDED (it
    * grows with the corpus), so the join strategy is left to AQE: at
    * test scale it broadcasts, at 100 TB it becomes a shuffled hash
    * join instead of a forced driver-side collect of billions of
    * parent rows.
    */
  def impParentRemap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val parents = e.groupBy("user_id")
      .agg(min("event_id").as("parent_event_id"))
    e.join(parents, "user_id")
      .select(col("event_id"), col("user_id"), col("parent_event_id"))
      .orderBy("event_id")
  }

  def impParentRemapSql: String =
    """SELECT e.event_id, e.user_id, p.parent_event_id
      |FROM events e
      |JOIN (SELECT user_id, MIN(event_id) AS parent_event_id
      |      FROM events GROUP BY user_id) p USING (user_id)
      |ORDER BY e.event_id""".stripMargin

  /** The Transfer entity: `StreamImport.transferFold`. */
  def impEntityTransfers(spark: SparkSession, dir: String): DataFrame =
    transfers(spark, dir).orderBy("transfer_key")

  /** The transfers entity as a reusable (un-sorted) DataFrame — the
    * read-side Specs queries filter this.
    */
  def transfers(spark: SparkSession, dir: String): DataFrame =
    transfersTyped(spark, dir).toDF()

  /** Typed read-side surface: `Dataset[TransferRow]` — the
    * JPA-entity-shaped API a reference user queries (compose with
    * Specs for the filter surface).
    */
  def transfersTyped(spark: SparkSession, dir: String): Dataset[TransferRow] =
    StreamImport.entityBatch(Tables.events(spark, dir), StreamImport.transferFold)

  /** Shared oracle CTE body for the transfers entity. */
  def transfersSqlCte: String =
    s"""SELECT user_id AS transfer_key,
       |  CONCAT('t', CAST(user_id % 10 AS VARCHAR)) AS tenant,
       |  COALESCE(MIN(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END), -1) AS started_ms,
       |  COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END), -1) AS completed_ms,
       |  COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS VARCHAR), '') AS amount,
       |  COALESCE(CAST(CAST(arg_max(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END,
       |                             CASE WHEN event_type = 'click' THEN $ordKeySql END) AS DECIMAL(38,2)) AS VARCHAR), '') AS last_click_value,
       |  CASE WHEN MAX(CASE WHEN event_type = 'error'
       |         AND CAST(json_extract_string(props, '$$.k') AS BIGINT) >= 90
       |         THEN 1 ELSE 0 END) = 1 THEN 'FAILED'
       |       WHEN MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 THEN 'COMPLETED'
       |       ELSE 'IN_PROGRESS' END AS status,
       |  COUNT(*) AS n_events
       |FROM events GROUP BY user_id""".stripMargin

  def impEntityTransfersSql: String =
    s"""WITH t AS (
       |$transfersSqlCte)
       |SELECT * FROM t ORDER BY transfer_key""".stripMargin

  /** The horizon between the "already imported" slice and the new
    * delta in the incremental demonstration — a stand-in for the
    * previous import run's high-water mark (mid-corpus; both slices
    * non-empty at every SF).
    */
  val IncrementalPivotMs = 1705363200000L

  /** Incremental entity materialization — the daily-import path a
    * 100 TB deployment runs instead of recomputing history: the PRIOR
    * slice's fold partials (in production: the stored per-key state
    * table, never re-read from raw events) merge with the new delta's
    * partials through the fold's own `merge`, then render exactly like
    * [[transfers]]. Cost per import = one shuffle over
    * |prior state ∩ touched keys| + |delta partials|, independent of
    * history length.
    *
    * The oracle is the FULL-corpus entity SQL — the gate proves
    * merge(fold(prior), fold(delta)) is bit-identical to
    * recomputation, which is the property that licenses the
    * incremental design.
    */
  def impEntityIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val fold = StreamImport.transferFold
    val prior = StreamImport.partials(ev.filter(col("ts_ms") < IncrementalPivotMs), fold)
    val delta = StreamImport.partials(ev.filter(col("ts_ms") >= IncrementalPivotMs), fold)
    StreamImport.mergePartials(prior.union(delta), fold).toDF()
      .orderBy("transfer_key")
  }

  /** The `variables` append table (the reference's per-record variable
    * log: workflowKey, workflowInstanceKey, timestamp, name, value —
    * §1 data model). Append semantics: every VARIABLE record lands,
    * dedup happens at read time (imp_var_dedup) exactly as the
    * reference's processVariable guards inserts.
    */
  def impVariables(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(
        col("event_id").as("record_key"),
        col("user_id").as("instance_key"),
        col("ts_ms"),
        col("event_type").as("name"),
        moneyStr(dec2(col("value"))).as("value"))
      .orderBy("record_key")

  def impVariablesSql: String =
    """SELECT event_id AS record_key, user_id AS instance_key,
      |  epoch_ms(ts) AS ts_ms, event_type AS name,
      |  CAST(CAST(value AS DECIMAL(38,2)) AS VARCHAR) AS value
      |FROM events WHERE event_type IN ('click','view','purchase')
      |ORDER BY record_key""".stripMargin

  /** The `tasks` append table (workflowKey, workflowInstanceKey,
    * timestamp, intent, recordType, type, elementId — §1 data model).
    */
  def impTasks(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id").as("record_key"),
        col("user_id").as("instance_key"),
        col("ts_ms"),
        when(payloadK(spark, col("props")) < 50, "CREATED")
          .otherwise("COMPLETED").as("intent"),
        lit("JOB").as("record_type"),
        col("event_type").as("element_id"))
      .orderBy("record_key")

  def impTasksSql: String =
    """SELECT event_id AS record_key, user_id AS instance_key,
      |  epoch_ms(ts) AS ts_ms,
      |  CASE WHEN CAST(json_extract_string(props,'$.k') AS BIGINT) < 50
      |       THEN 'CREATED' ELSE 'COMPLETED' END AS intent,
      |  'JOB' AS record_type,
      |  event_type AS element_id
      |FROM events ORDER BY record_key""".stripMargin

  /** The wide Transfer entity (nested-JSON registry classes and plain
    * scalars): `StreamImport.wideFold`; the build drops the fold's
    * sink-routing `tenant`.
    */
  def impEntityWide(spark: SparkSession, dir: String): DataFrame =
    StreamImport.entityBatch(Tables.events(spark, dir), StreamImport.wideFold)
      .drop("tenant").orderBy("transfer_key")

  def impEntityWideSql: String = {
    def pick(cond: String, value: String, default: String): String =
      s"""COALESCE(arg_max(CASE WHEN $cond THEN $value END,
         |                 CASE WHEN $cond THEN ${ordKeySqlOf("ms", "event_id")} END), $default)""".stripMargin
    // channelRequest and quoteSwitchRequest write the same party and
    // amount columns (same JsonPaths) — last write across both
    val party = "var_name IN ('channelRequest', 'quoteSwitchRequest')"
    val switch = "var_name = 'quoteSwitchRequest'"
    val resp = "var_name = 'transferResponse-CREATE'"
    val anyResp = "var_name IN ('transferResponse-CREATE', 'transferResponse-PREPARE')"
    // direction routing (parseTransferLocalQuoteResponse:155-166):
    // INCOMING → payee_* columns, OUTGOING → payer_*
    val quoteIn = "var_name = 'localQuoteResponse' AND user_id % 2 = 0"
    val quoteOut = "var_name = 'localQuoteResponse' AND user_id % 2 <> 0"
    val payeeQ = "var_name = 'payeeQuoteResponse'"
    val err = "var_name = 'errorInformation'"
    def jx(path: String) = s"json_extract_string(payload, '$path')"
    // a column with BOTH a nested-class writer and a plain-scalar
    // writer (VariableParser:44,55-69): the scalar's payload IS the
    // value, the nested class extracts a JsonPath
    def scalarOr(scalars: Seq[String], nestedVal: String): String =
      s"CASE WHEN var_name IN (${scalars.map("'" + _ + "'").mkString(",")}) THEN ${jx("$")} ELSE $nestedVal END"
    // payee fee: routed localQuoteResponse, un-routed
    // payeeQuoteResponse, or the targetFee scalar; the CURRENCY's
    // scalar writer is targetCurrency, not targetFee — separate conds
    val payeeFeeCond = s"(($quoteIn) OR $payeeQ OR var_name = 'targetFee')"
    val payeeFeeCurCond = s"(($quoteIn) OR $payeeQ OR var_name = 'targetCurrency')"
    val payeeFeeVal =
      s"""CASE WHEN var_name = 'localQuoteResponse' THEN ${jx("$.fspFee.amount")}
         |       WHEN var_name = 'payeeQuoteResponse' THEN ${jx("$.payeeFspFee.amount")}
         |       ELSE ${jx("$")} END""".stripMargin
    val payeeFeeCur =
      s"""CASE WHEN var_name = 'localQuoteResponse' THEN ${jx("$.fspFee.currency")}
         |       WHEN var_name = 'payeeQuoteResponse' THEN ${jx("$.payeeFspFee.currency")}
         |       ELSE ${jx("$")} END""".stripMargin
    def moneyPick(cond: String, valueExpr: String): String =
      s"COALESCE(CAST(CAST(${pick(cond, s"CAST($valueExpr AS DECIMAL(18,2))", "NULL")} AS DECIMAL(38,2)) AS VARCHAR), '')"
    s"""WITH ev AS (
       |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type, value, props,
       |    COALESCE(CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS k
       |  FROM events),
       |src AS (
       |  SELECT user_id, ms, event_id,
       |    CASE WHEN event_type = 'signup' AND k < 50 THEN 'channelRequest'
       |         WHEN event_type = 'signup' AND k < 90 THEN 'quoteSwitchRequest'
       |         WHEN event_type = 'signup' THEN
       |           CASE event_id % 4 WHEN 0 THEN 'transactionId' WHEN 1 THEN 'currency'
       |                WHEN 2 THEN 'sourceAccountType' ELSE 'targetAccountType' END
       |         WHEN event_type = 'purchase' AND k < 90 THEN 'transferResponse-CREATE'
       |         WHEN event_type = 'purchase' THEN
       |           CASE event_id % 3 WHEN 0 THEN 'sourceFee' WHEN 1 THEN 'targetFee' ELSE 'quoteId' END
       |         WHEN event_type = 'click' AND k < 90 THEN 'transferResponse-PREPARE'
       |         WHEN event_type = 'click' THEN
       |           CASE event_id % 2 WHEN 0 THEN 'sourceInstitution' ELSE 'targetInstitution' END
       |         WHEN event_type = 'view' AND k < 50 THEN 'localQuoteResponse'
       |         WHEN event_type = 'view' AND k < 90 THEN 'payeeQuoteResponse'
       |         WHEN event_type = 'view' THEN
       |           CASE event_id % 4 WHEN 0 THEN 'sourceCurrency' WHEN 1 THEN 'targetCurrency'
       |                WHEN 2 THEN 'sourceQuoteCode' ELSE 'targetQuoteCode' END
       |         WHEN event_type = 'error' THEN 'errorInformation' END AS var_name,
       |    CASE WHEN event_type = 'signup' AND k < 50 THEN to_json(struct_pack(
       |        payer := struct_pack(partyIdInfo := struct_pack(partyIdType := 'MSISDN',
       |          partyIdentifier := CONCAT('277', CAST(user_id % 100 AS VARCHAR)))),
       |        payee := struct_pack(partyIdInfo := struct_pack(partyIdType := 'ACCOUNT_ID',
       |          partyIdentifier := CONCAT('acct-', CAST(user_id % 50 AS VARCHAR)))),
       |        amount := struct_pack(amount := CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
       |          currency := CASE WHEN user_id % 2 = 0 THEN 'USD' ELSE 'KES' END)))
       |      WHEN event_type = 'signup' AND k < 90 THEN to_json(struct_pack(
       |        transactionId := CONCAT('txn-', CAST(user_id AS VARCHAR), '-', CAST(event_id % 100 AS VARCHAR)),
       |        payer := struct_pack(partyIdInfo := struct_pack(partyIdType := 'IBAN',
       |          partyIdentifier := CONCAT('PI', CAST(user_id % 77 AS VARCHAR)),
       |          fspId := CONCAT('fsp', CAST(k % 10 AS VARCHAR)))),
       |        payee := struct_pack(partyIdInfo := struct_pack(partyIdType := 'MSISDN',
       |          partyIdentifier := CONCAT('266', CAST(user_id % 99 AS VARCHAR)),
       |          fspId := CONCAT('fsp', CAST((k + 1) % 10 AS VARCHAR)))),
       |        amount := struct_pack(amount := CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
       |          currency := CASE WHEN k % 2 = 0 THEN 'EUR' ELSE 'GHS' END)))
       |      WHEN event_type = 'signup' THEN to_json(
       |        CASE event_id % 4
       |          WHEN 0 THEN CONCAT('ptx-', CAST(user_id AS VARCHAR), '-', CAST(event_id % 100 AS VARCHAR))
       |          WHEN 1 THEN CASE event_id % 3 WHEN 0 THEN 'MWK' WHEN 1 THEN 'ZMW' ELSE 'UGX' END
       |          WHEN 2 THEN CASE event_id % 3 WHEN 0 THEN 'MSISDN' WHEN 1 THEN 'IBAN' ELSE 'ACCOUNT_ID' END
       |          ELSE CASE event_id % 3 WHEN 0 THEN 'ALIAS' WHEN 1 THEN 'MSISDN' ELSE 'IBAN' END END)
       |      WHEN event_type = 'purchase' AND k < 90 THEN to_json(struct_pack(
       |        completedTimestamp := strftime(make_timestamp((ms // 1000) * 1000000), '%Y-%m-%dT%H:%M:%S'),
       |        transferState := 'COMMITTED'))
       |      WHEN event_type = 'purchase' THEN to_json(
       |        CASE event_id % 3
       |          WHEN 0 THEN CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
       |          WHEN 1 THEN CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
       |          ELSE CONCAT('QID-', CAST(event_id % 1000 AS VARCHAR)) END)
       |      WHEN event_type = 'click' AND k < 90 THEN to_json(struct_pack(
       |        completedTimestamp := strftime(make_timestamp((ms // 1000) * 1000000), '%Y-%m-%dT%H:%M:%S')))
       |      WHEN event_type = 'click' THEN to_json(
       |        CASE event_id % 2 WHEN 0 THEN CONCAT('inst-', CAST(k % 10 AS VARCHAR))
       |          ELSE CONCAT('tinst-', CAST(k % 10 AS VARCHAR)) END)
       |      WHEN event_type = 'view' AND k < 50 THEN to_json(struct_pack(
       |        fspFee := struct_pack(amount := CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
       |          currency := CASE WHEN event_id % 2 = 0 THEN 'USD' ELSE 'TZS' END),
       |        quoteCode := CONCAT('LQ-', CAST(event_id % 1000 AS VARCHAR))))
       |      WHEN event_type = 'view' AND k < 90 THEN to_json(struct_pack(
       |        payeeFspFee := struct_pack(amount := CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
       |          currency := CASE WHEN event_id % 2 = 0 THEN 'XOF' ELSE 'NGN' END)))
       |      WHEN event_type = 'view' THEN to_json(
       |        CASE event_id % 4
       |          WHEN 0 THEN CASE event_id % 3 WHEN 0 THEN 'TZS' WHEN 1 THEN 'XOF' ELSE 'GMD' END
       |          WHEN 1 THEN CASE event_id % 3 WHEN 0 THEN 'NGN' WHEN 1 THEN 'KES' ELSE 'ETB' END
       |          WHEN 2 THEN CONCAT('SQ-', CAST(event_id % 1000 AS VARCHAR))
       |          ELSE CONCAT('TQ-', CAST(event_id % 1000 AS VARCHAR)) END)
       |      WHEN event_type = 'error' THEN to_json(
       |        CASE WHEN k >= 90 THEN CONCAT('err-', CAST(k AS VARCHAR)) ELSE 'false' END)
       |      END AS payload
       |  FROM ev)
       |SELECT user_id AS transfer_key,
       |  ${pick(party, jx("$.payer.partyIdInfo.partyIdentifier"), "''")} AS payer_party_id,
       |  ${pick(s"($party OR var_name = 'sourceAccountType')",
                 scalarOr(Seq("sourceAccountType"), jx("$.payer.partyIdInfo.partyIdType")), "''")} AS payer_id_type,
       |  ${pick(party, jx("$.payee.partyIdInfo.partyIdentifier"), "''")} AS payee_party_id,
       |  ${pick(s"($party OR var_name = 'targetAccountType')",
                 scalarOr(Seq("targetAccountType"), jx("$.payee.partyIdInfo.partyIdType")), "''")} AS payee_id_type,
       |  ${moneyPick(party, jx("$.amount.amount"))} AS amount,
       |  ${pick(s"($party OR var_name = 'currency')",
                 scalarOr(Seq("currency"), jx("$.amount.currency")), "''")} AS currency,
       |  ${pick(s"($switch OR var_name = 'transactionId')",
                 scalarOr(Seq("transactionId"), jx("$.transactionId")), "''")} AS transaction_id,
       |  ${pick(s"($switch OR var_name = 'sourceInstitution')",
                 scalarOr(Seq("sourceInstitution"), jx("$.payer.partyIdInfo.fspId")), "''")} AS payer_dfsp_id,
       |  ${pick(s"($switch OR var_name = 'targetInstitution')",
                 scalarOr(Seq("targetInstitution"), jx("$.payee.partyIdInfo.fspId")), "''")} AS payee_dfsp_id,
       |  ${pick(anyResp, s"epoch_ms(strptime(${jx("$.completedTimestamp")}, '%Y-%m-%dT%H:%M:%S'))", "-1")} AS completed_ms,
       |  ${pick(resp, jx("$.transferState"), "''")} AS transfer_state,
       |  ${moneyPick(s"(($quoteOut) OR var_name = 'sourceFee')",
                 scalarOr(Seq("sourceFee"), jx("$.fspFee.amount")))} AS payer_fee,
       |  ${pick(s"(($quoteOut) OR var_name = 'sourceCurrency')",
                 scalarOr(Seq("sourceCurrency"), jx("$.fspFee.currency")), "''")} AS payer_fee_currency,
       |  ${pick(s"(($quoteOut) OR var_name = 'sourceQuoteCode')",
                 scalarOr(Seq("sourceQuoteCode"), jx("$.quoteCode")), "''")} AS payer_quote_code,
       |  ${moneyPick(payeeFeeCond, payeeFeeVal)} AS payee_fee,
       |  ${pick(payeeFeeCurCond, payeeFeeCur, "''")} AS payee_fee_currency,
       |  ${pick(s"(($quoteIn) OR var_name IN ('quoteId', 'targetQuoteCode'))",
                 scalarOr(Seq("quoteId", "targetQuoteCode"), jx("$.quoteCode")), "''")} AS payee_quote_code,
       |  ${pick(err, jx("$"), "''")} AS error_information,
       |  ${pick(err, s"CASE WHEN ${jx("$")} = 'false' THEN 'COMPLETED' ELSE 'FAILED' END", "'IN_PROGRESS'")} AS status
       |FROM src GROUP BY user_id ORDER BY transfer_key""".stripMargin
  }

  /** Static per-process configuration (the reference's application.yml
    * `bpmn.processes` list: each process id carries its payment
    * direction, consumed by Inflight*Manager.*Started). Dimension
    * tables this small are BROADCAST — the config join adds zero
    * shuffles.
    */
  val ProcessConfig: Seq[(String, String)] = Seq(
    "click" -> "INCOMING", "view" -> "INCOMING", "purchase" -> "OUTGOING",
    "signup" -> "INCOMING", "error" -> "UNKNOWN")

  /** Per-process direction resolution via the broadcast config dim. */
  def impDirection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val config = ProcessConfig.toDF("process_id", "direction")
    Tables.events(spark, dir)
      .select(substring_index(
        concat(col("event_type"), lit("-proc-t"), (col("user_id") % 10).cast(LongType)),
        "-", 1).as("process_id"))
      .join(broadcast(config), "process_id")
      .groupBy("process_id", "direction")
      .agg(count(lit(1)).cast(LongType).as("n"))
      .orderBy("process_id")
  }

  def impDirectionSql: String = {
    val cases = ProcessConfig.map { case (p, d) => s"WHEN '$p' THEN '$d'" }.mkString(" ")
    s"""SELECT event_type AS process_id,
       |  CASE event_type $cases END AS direction,
       |  COUNT(*) AS n
       |FROM events GROUP BY 1, 2 ORDER BY process_id""".stripMargin
  }

  /** The TransactionRequest entity: `StreamImport.txnreqFold`. */
  def impEntityTxnreq(spark: SparkSession, dir: String): DataFrame =
    StreamImport.entityBatch(Tables.events(spark, dir), StreamImport.txnreqFold).toDF()
      .orderBy("txn_key")

  def impEntityTxnreqSql: String =
    s"""WITH sig AS (
       |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type, value,
       |    COALESCE(CAST(json_extract_string(props,'$$.k') AS BIGINT), 0) AS k,
       |    CASE WHEN event_type = 'signup' THEN 'RECEIVED'
       |         WHEN event_type = 'view' THEN
       |           CASE WHEN CAST(json_extract_string(props,'$$.k') AS BIGINT) >= 90 THEN 'FAILED' ELSE 'RECEIVED' END
       |         WHEN event_type = 'click' THEN
       |           CASE WHEN CAST(json_extract_string(props,'$$.k') AS BIGINT) >= 90 THEN 'FAILED'
       |                WHEN CAST(json_extract_string(props,'$$.k') AS BIGINT) >= 80 THEN 'REJECTED'
       |                ELSE 'IN_PROGRESS' END
       |         WHEN event_type = 'purchase' THEN
       |           CASE WHEN CAST(json_extract_string(props,'$$.k') AS BIGINT) >= 90 THEN 'FAILED' ELSE 'ACCEPTED' END
       |         WHEN event_type = 'error' AND CAST(json_extract_string(props,'$$.k') AS BIGINT) >= 90 THEN 'FAILED'
       |         ELSE NULL END AS signal
       |  FROM events)
       |SELECT user_id AS txn_key,
       |  CONCAT('t', CAST(user_id % 10 AS VARCHAR)) AS tenant,
       |  COALESCE(arg_max(CASE WHEN signal IS NOT NULL THEN signal END,
       |                   CASE WHEN signal IS NOT NULL THEN ${ordKeySqlOf("ms", "event_id")} END), 'IN_PROGRESS') AS state,
       |  COALESCE(MIN(CASE WHEN event_type = 'signup' THEN ms END), -1) AS started_ms,
       |  COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN ms END), -1) AS completed_ms,
       |  COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS VARCHAR), '') AS amount,
       |  COALESCE(arg_max(CASE WHEN event_type = 'signup' THEN
       |      (CASE WHEN k % 3 = 0 THEN 'NONE' WHEN k % 3 = 1 THEN 'OTP' ELSE 'BIO' END) END,
       |    CASE WHEN event_type = 'signup' THEN ${ordKeySqlOf("ms", "event_id")} END), 'NONE') AS auth_type,
       |  COALESCE(arg_max(CASE WHEN event_type = 'view' THEN CONCAT('dfsp-', CAST(k % 10 AS VARCHAR)) END,
       |    CASE WHEN event_type = 'view' THEN ${ordKeySqlOf("ms", "event_id")} END), '') AS payer_dfsp_id,
       |  COALESCE(arg_max(CASE WHEN event_type = 'click' AND user_id % 2 <> 0 THEN CONCAT('fsp-', CAST(k % 10 AS VARCHAR)) END,
       |    CASE WHEN event_type = 'click' AND user_id % 2 <> 0 THEN ${ordKeySqlOf("ms", "event_id")} END), '') AS payee_dfsp_id,
       |  COALESCE(arg_max(CASE WHEN event_type = 'error' AND k < 90 THEN
       |      (CASE WHEN k % 3 = 0 THEN 'CONSUMER' WHEN k % 3 = 1 THEN 'AGENT' ELSE 'BUSINESS' END) END,
       |    CASE WHEN event_type = 'error' AND k < 90 THEN ${ordKeySqlOf("ms", "event_id")} END), '') AS initiator_type,
       |  COALESCE(arg_max(CASE WHEN event_type = 'error' AND k < 90 THEN
       |      (CASE WHEN k % 4 = 0 THEN 'DEPOSIT' WHEN k % 4 = 1 THEN 'WITHDRAWAL'
       |            WHEN k % 4 = 2 THEN 'TRANSFER' ELSE 'PAYMENT' END) END,
       |    CASE WHEN event_type = 'error' AND k < 90 THEN ${ordKeySqlOf("ms", "event_id")} END), '') AS scenario,
       |  COUNT(*) AS n_events
       |FROM sig GROUP BY user_id ORDER BY txn_key""".stripMargin

  /** The Batch entity: `StreamImport.batchFold`. */
  def impEntityBatches(spark: SparkSession, dir: String): DataFrame =
    StreamImport.entityBatch(Tables.events(spark, dir), StreamImport.batchFold).toDF()
      .orderBy("batch_key")

  def impEntityBatchesSql: String =
    s"""WITH b AS (
       |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
       |    COALESCE(CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS k
       |  FROM events)
       |SELECT user_id AS batch_key,
       |  CONCAT('b', CAST(user_id % 20 AS VARCHAR)) AS batch_id,
       |  CONCAT('req-', CAST(user_id AS VARCHAR)) AS request_id,
       |  COALESCE(arg_max(CASE WHEN event_type = 'signup' THEN CONCAT('f-', CAST(k AS VARCHAR), '.csv') END,
       |    CASE WHEN event_type = 'signup' THEN ${ordKeySqlOf("ms", "event_id")} END), '') AS request_file,
       |  COALESCE(arg_max(CASE WHEN event_type = 'view' THEN CONCAT('note-', CAST(k % 5 AS VARCHAR)) END,
       |    CASE WHEN event_type = 'view' THEN ${ordKeySqlOf("ms", "event_id")} END), '') AS note,
       |  COALESCE(MIN(CASE WHEN event_type = 'signup' THEN ms END), -1) AS started_ms,
       |  COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN ms END), -1) AS completed_ms,
       |  CAST(SUM(CASE WHEN event_type IN ('click','view','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS total_transactions,
       |  CAST(GREATEST(SUM(CASE WHEN event_type IN ('click','view','purchase') THEN 1 ELSE 0 END)
       |    - SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ongoing,
       |  CAST(SUM(CASE WHEN event_type = 'error' AND k >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS completed
       |FROM b GROUP BY user_id ORDER BY batch_key""".stripMargin

  /** TransferDetail composite (entity/transfer/TransferDetail.java:9-17:
    * one Transfer plus its full Task list and Variable list — the
    * read-side detail row the operations UI fetches per transfer).
    * Lists flatten to portable columns: a count and a
    * deterministically-sorted joined rendering (`elem:intent#recordkey`
    * / `name=value#recordkey`; the zero-padded record key makes string
    * order equal numeric order, so both engines sort identically).
    *
    * Scale posture: ONE shuffled groupBy on the instance key —
    * `collect_list` skips nulls, so the task list, the variable list
    * (a conditional projection) and the status flags all fold in the
    * same pass; no joins, one scan of events. Per-instance list size
    * is bounded by workflow length (the reference serves these lists
    * in ONE api response per transfer — inherently small), so
    * collect_list per key is safe.
    */
  def impTransferDetail(spark: SparkSession, dir: String): DataFrame = {
    val k = payloadK(spark, col("props"))
    val isVar = col("event_type").isin(VarTypes: _*)
    val isFatal = col("event_type") === "error" && k >= 90
    val taskS = format_string("%s:%s#%020d", col("event_type"),
      when(k < 50, "CREATED").otherwise("COMPLETED"), col("event_id"))
    val varS = format_string("%s=%s#%020d", col("event_type"),
      moneyStr(dec2(col("value"))), col("event_id"))
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(when(isFatal, 1).otherwise(0)).as("_failed"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("_completed"),
        count(lit(1)).cast(LongType).as("task_count"),
        array_join(array_sort(collect_list(taskS)), ",").as("tasks"),
        count(when(isVar, 1)).cast(LongType).as("var_count"),
        array_join(array_sort(collect_list(when(isVar, varS))), ",").as("vars"))
      .select(col("user_id").as("transfer_key"),
        concat(lit("t"), (col("user_id") % 10).cast(LongType)).as("tenant"),
        when(col("_failed") === 1, "FAILED")
          .when(col("_completed") === 1, "COMPLETED")
          .otherwise("IN_PROGRESS").as("status"),
        col("task_count"), col("tasks"), col("var_count"), col("vars"))
      .orderBy("transfer_key")
  }

  def impTransferDetailSql: String =
    s"""WITH t AS (
       |$transfersSqlCte),
       |ta AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS task_count,
       |    string_agg(s, ',' ORDER BY s) AS tasks
       |  FROM (SELECT user_id,
       |      printf('%s:%s#%020d', event_type,
       |        CASE WHEN CAST(json_extract_string(props, '$$.k') AS BIGINT) < 50
       |             THEN 'CREATED' ELSE 'COMPLETED' END,
       |        event_id) AS s
       |    FROM events)
       |  GROUP BY user_id),
       |va AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS var_count,
       |    string_agg(s, ',' ORDER BY s) AS vars
       |  FROM (SELECT user_id,
       |      printf('%s=%s#%020d', event_type,
       |        CAST(CAST(value AS DECIMAL(38,2)) AS VARCHAR), event_id) AS s
       |    FROM events WHERE event_type IN ('click','view','purchase'))
       |  GROUP BY user_id)
       |SELECT t.transfer_key, t.tenant, t.status,
       |  COALESCE(ta.task_count, 0) AS task_count, COALESCE(ta.tasks, '') AS tasks,
       |  COALESCE(va.var_count, 0) AS var_count, COALESCE(va.vars, '') AS vars
       |FROM t
       |LEFT JOIN ta ON t.transfer_key = ta.user_id
       |LEFT JOIN va ON t.transfer_key = va.user_id
       |ORDER BY t.transfer_key""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "imp_parse_route" -> (impParseRoute _),
    "imp_var_dedup" -> (impVarDedup _),
    "imp_task_dedup" -> (impTaskDedup _),
    "imp_lifecycle" -> (impLifecycle _),
    "imp_pivot_entity" -> (impPivotEntity _),
    "imp_status_sm" -> (impStatusSm _),
    "imp_tenant_split" -> (impTenantSplit _),
    "imp_parent_remap" -> (impParentRemap _),
    "imp_entity_transfers" -> (impEntityTransfers _),
    "imp_entity_incremental" -> (impEntityIncremental _),
    "imp_entity_wide" -> (impEntityWide _),
    "imp_entity_txnreq" -> (impEntityTxnreq _),
    "imp_entity_batches" -> (impEntityBatches _),
    "imp_transfer_detail" -> (impTransferDetail _),
    "imp_direction" -> (impDirection _),
    "imp_variables" -> (impVariables _),
    "imp_tasks" -> (impTasks _))

  def oracles: Map[String, String] = Map(
    "imp_parse_route" -> impParseRouteSql,
    "imp_var_dedup" -> impVarDedupSql,
    "imp_task_dedup" -> impTaskDedupSql,
    "imp_lifecycle" -> impLifecycleSql,
    "imp_pivot_entity" -> impPivotEntitySql,
    "imp_status_sm" -> impStatusSmSql,
    "imp_tenant_split" -> impTenantSplitSql,
    "imp_parent_remap" -> impParentRemapSql,
    "imp_entity_transfers" -> impEntityTransfersSql,
    // the incremental path answers the FULL-corpus oracle: merge of
    // slice states must be bit-identical to recomputation
    "imp_entity_incremental" -> impEntityTransfersSql,
    "imp_entity_wide" -> impEntityWideSql,
    "imp_entity_txnreq" -> impEntityTxnreqSql,
    "imp_entity_batches" -> impEntityBatchesSql,
    "imp_transfer_detail" -> impTransferDetailSql,
    "imp_direction" -> impDirectionSql,
    "imp_variables" -> impVariablesSql,
    "imp_tasks" -> impTasksSql)
}
