package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Structured-Streaming re-expression of the reference's import loop
  * (NatsConsumer listen → RecordParser → Inflight*Manager → JPA save):
  * a keyed state machine over the record stream materializing one
  * Transfer row per workflow instance, upserted per micro-batch.
  *
  * The NATS client itself is out of scope (zero-egress container;
  * SURVEY.md §5) — the source is pluggable: any Dataset[Rec]-shaped
  * stream (file source in the driver path, MemoryStream in specs).
  *
  * The [[EntityFold]]s here (Transfer, wide Transfer,
  * TransactionRequest, Batch) are the ONE definition of each importer
  * entity and carry its reference mapping: the streaming queries run
  * them under a state store, and the batch builds in
  * [[graft.operators.ImporterCore]] run them through [[entityBatch]]
  * (the same map-side pre-fold, then a stateless merge). Only the
  * DuckDB oracles stay independent.
  *
  * Scale posture: state is keyed by instance (bounded per-key size,
  * no per-key growth beyond the folded aggregates), every fold is an
  * explicit commutative MONOID ([[EntityFold]]: order-insensitive
  * min/max/sum + arg-max by record ord) so late/out-of-order records
  * need no reprocessing, and the sink is an idempotent keyed upsert
  * with a monoid MERGE hook — the properties that let the pipeline
  * run with thousands of parallel state partitions. The KEY SET is
  * bounded too: every keyed fold runs watermark-driven eviction
  * ([[boundedUpdate]]) so state is O(keys active within the
  * horizon), not O(keys ever seen) — and an evicted key that comes
  * back re-merges with its sunk row at the sink ([[foldMerge]], the
  * reference's read-modify-write), so eviction never loses or
  * overwrites data. The state itself lives in RocksDB
  * ([[graft.Graft.session]]), off-heap.
  *
  * The composed import loop ([[importLoop]]) is that same bounded fold
  * with the instance's association riding the accumulator: ONE
  * stateful operator, so its watermark bounds all of the loop's state,
  * and records that arrive before their association are folded, not
  * buffered.
  */
object StreamImport {

  /** One export record (the events-table shape; `k` is the parsed
    * JSON payload field, ts normalized to epoch millis).
    */
  case class Rec(event_id: Long, ts_ms: Long, user_id: Long,
    event_type: String, value: Double, k: Long)

  /** Per-instance Transfer state: lifecycle (startedAt = min signup
    * ts, completedAt = max purchase ts —
    * InflightTransferManager.transferStarted/Ended), payload pivot
    * (amount = purchase sum, last click by record ord) and the
    * terminal-status state machine: FAILED (fatal incident, payload
    * k >= 90 — VariableParser.parseTransferCreateFailed:185-187) wins
    * over COMPLETED (instance ended) wins over the IN_PROGRESS default
    * (Transfer ctor). RecordParser + VariableParser +
    * InflightTransferManager composing one Transfer row per instance,
    * minus the repo lookups: the fold is total, not read-modify-write.
    * The last-write ordering is the (ts, event_id) PAIR compared
    * lexicographically — no composite-bigint overflow at
    * event_id >= 1e6.
    */
  case class St(started: Long, completed: Long, amountE2: Long,
    lastTs: Long, lastId: Long, lastClickE2: Long, hasClick: Boolean,
    hasAmount: Boolean, failed: Boolean, done: Boolean, n: Long)

  private val EmptySt = St(Long.MaxValue, Long.MinValue, 0L, Long.MinValue,
    Long.MinValue, 0L,
    hasClick = false, hasAmount = false, failed = false, done = false, n = 0L)

  /** (ts, id) strictly after the fold's current last-write mark? */
  private def isAfter(ts: Long, id: Long, lastTs: Long, lastId: Long): Boolean =
    ts > lastTs || (ts == lastTs && id > lastId)

  /** The materialized Transfer entity (the reference's
    * entity/transfer/Transfer.java row, the columns this corpus can
    * populate) — the row of the stream and of ImporterCore.transfers.
    */
  case class TransferRow(transfer_key: Long, tenant: String,
    started_ms: Long, completed_ms: Long, amount: String,
    last_click_value: String, status: String, n_events: Long)

  /** Double → cents with the SAME rounding as the oracle's
    * decimal(18,2) cast (HALF_UP on the decimal rendering of the
    * double — `math.round(v * 100)` would differ on negatives and on
    * FP .5 boundaries, diverging from the shared oracle).
    */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def fold(st: St, r: Rec): St = {
    var s = st.copy(n = st.n + 1)
    r.event_type match {
      case "signup" =>
        s = s.copy(started = math.min(s.started, r.ts_ms))
      case "purchase" =>
        s = s.copy(completed = math.max(s.completed, r.ts_ms),
          amountE2 = s.amountE2 + cents(r.value),
          hasAmount = true, done = true)
      case "click" =>
        if (isAfter(r.ts_ms, r.event_id, s.lastTs, s.lastId))
          s = s.copy(lastTs = r.ts_ms, lastId = r.event_id,
            lastClickE2 = cents(r.value), hasClick = true)
      case "error" =>
        if (r.k >= 90) s = s.copy(failed = true)
      case _ => ()
    }
    s
  }

  private def render(key: Long, s: St): TransferRow = TransferRow(
    transfer_key = key,
    tenant = "t" + (key % 10),
    started_ms = if (s.started == Long.MaxValue) -1L else s.started,
    completed_ms = if (s.completed == Long.MinValue) -1L else s.completed,
    amount = if (s.hasAmount) java.math.BigDecimal.valueOf(s.amountE2, 2).toPlainString else "",
    last_click_value = if (s.hasClick) java.math.BigDecimal.valueOf(s.lastClickE2, 2).toPlainString else "",
    status = if (s.failed) "FAILED" else if (s.done) "COMPLETED" else "IN_PROGRESS",
    n_events = s.n)

  // ------------------------------------------- bounded-state plumbing

  /** Default watermark delay of the bounded operators (the keyed folds,
    * and the window and dedup gates): how long a record may trail the
    * stream's max event time before it counts as late. A load-bearing
    * correctness parameter — deployments whose disorder exceeds it drop
    * records — so every entry point threads it as an argument with this
    * value as the default.
    */
  val FoldWatermark = "30 minutes"

  /** Default idle horizon of the bounded keyed folds: a key's state is
    * evicted once the watermark passes its newest record by this much —
    * the bound the reference effectively gets by flushing completed
    * entities to MySQL instead of caching every instance forever
    * (Inflight*Manager caches + the repository save). Thread-able per
    * pipeline, like [[FoldWatermark]].
    */
  val EvictHorizonMs: Long = 60L * 60 * 1000L

  /** An entity fold as an explicit COMMUTATIVE MONOID — the algebra
    * every keyed importer fold in this file satisfies (min/max/sum/or
    * counters plus last-write-wins fields ordered by the (ts, id)
    * record ord, never by arrival):
    *
    *   - `step` folds one record into the accumulator;
    *   - `merge` combines two accumulators folded from DISJOINT record
    *     sets, with `empty` as its unit — `merge(fold(xs), fold(ys)) ==
    *     fold(xs ++ ys)` for any split, commutative and associative
    *     (property-pinned per entity in FoldMonoidSpec);
    *   - `render` materializes the entity row(s) for a key.
    *
    * The merge is what lets bounded state stay EXACT: an evicted key's
    * already-sunk contribution and a fresh post-eviction incarnation
    * recombine at the sink ([[foldMerge]]) instead of the restart
    * overwriting the sunk row — the Spark re-expression of the
    * reference's read-modify-write (Inflight*Manager cache miss →
    * findByWorkflowInstanceKey → merge → save).
    */
  case class EntityFold[S, O](empty: S, step: (S, Rec) => S,
    merge: (S, S) => S, render: (Long, S) => Seq[O], tenant: Long => String)

  /** Bounded-fold state: the accumulator plus its INCARNATION birth
    * mark — the record ord (ts, id) of the earliest record that
    * (re)created this state after empty or after an eviction. The mark
    * is what lets the sink distinguish "cumulative re-emission of the
    * same state" (replace) from "a fresh incarnation after eviction"
    * (merge the previous one into `closed` first).
    */
  case class IncSt[S](inc_ts: Long, inc_id: Long, st: S)

  /** A map-side PARTIAL: one key's records from one input partition,
    * pre-folded into an accumulator BEFORE the stateful shuffle.
    * Carries the min record ord (the incarnation birth-mark candidate)
    * and the max event time (what the watermark and the timeout see).
    *
    * This is the skew bound the reference's row-at-a-time loop never
    * needs but Spark does: without it a hot workflow-instance key
    * funnels ALL its raw records through the single stateful task that
    * owns the key; with it the per-record fold work happens in
    * parallel across the input partitions and the stateful exchange
    * carries at most (keys × input partitions) accumulator rows per
    * batch — legal because every fold is a commutative monoid
    * (merge ≡ fold, FoldMonoidSpec).
    */
  case class PreFold[S](entity_key: Long, ord_ts: Long, ord_id: Long,
    max_ts: Long, st: S)

  /** Flush threshold of the pre-fold's per-partition hash map: when
    * the map holds this many DISTINCT keys and the next record opens
    * another, the partials drain downstream and the map resets — so
    * pre-fold memory is bounded by entries × state size regardless of
    * a partition's key cardinality (several partials per key per
    * partition just merge in the stateful operator, same monoid).
    */
  private[graft] val PreFoldFlushEntries = 1 << 15

  /** Per-partition pre-fold: group-fold a partition's records into
    * [[PreFold]] partials with the bounded hash map described above.
    */
  private[graft] def preFold[S](spec: EntityFold[S, _], maxEntries: Int = PreFoldFlushEntries)(
      recs: Iterator[Rec]): Iterator[PreFold[S]] = new Iterator[PreFold[S]] {
    private val in = recs.buffered
    private var out: Iterator[PreFold[S]] = Iterator.empty
    private def refill(): Unit = if (in.hasNext) {
      val m = new java.util.LinkedHashMap[Long, PreFold[S]]()
      while (in.hasNext &&
          (m.containsKey(in.head.user_id) || m.size < maxEntries)) {
        val r = in.next()
        val prev = m.get(r.user_id)
        val p =
          if (prev == null)
            PreFold(r.user_id, r.ts_ms, r.event_id, r.ts_ms, spec.step(spec.empty, r))
          else {
            val earlier = prev.ord_ts < r.ts_ms ||
              (prev.ord_ts == r.ts_ms && prev.ord_id <= r.event_id)
            PreFold(r.user_id,
              if (earlier) prev.ord_ts else r.ts_ms,
              if (earlier) prev.ord_id else r.event_id,
              math.max(prev.max_ts, r.ts_ms),
              spec.step(prev.st, r))
          }
        m.put(r.user_id, p)
      }
      out = { import scala.jdk.CollectionConverters._; m.values.asScala.toVector.iterator }
    }
    def hasNext: Boolean = { if (!out.hasNext) refill(); out.hasNext }
    def next(): PreFold[S] = { if (!hasNext) throw new NoSuchElementException; out.next() }
  }

  /** One sink-contract row per key per micro-batch from a bounded
    * fold: the rendered entity row(s), the open incarnation's
    * accumulator + birth mark, and the `closed` accumulator of every
    * PRIOR incarnation. `closed` is None on emission AND stays None
    * until an eviction actually happens (maintained by the sink's
    * [[foldMerge]], which renders `rows` from closed ⊕ open) — so the
    * no-eviction common case never serializes a second accumulator.
    */
  case class SinkRow[O, S](entity_key: Long, tenant: String, rows: Seq[O],
    inc_ts: Long, inc_id: Long, open: S, closed: Option[S])

  /** Bounded keyed fold with watermark-driven state EVICTION — the
    * 100 TB posture: state is O(keys active within the horizon), not
    * O(keys ever seen).
    *
    *   - each batch re-arms the key's event-time timeout at
    *     (newest record + horizon); when the watermark passes it the
    *     state is REMOVED and nothing is emitted — the sink already
    *     holds the incarnation's final render;
    *   - LATE data is DROPPED before the fold (the standard watermark
    *     contract: disorder beyond the delay is not replayed). The
    *     drop granularity is the map-side PARTIAL: a partial whose
    *     newest record is behind the watermark is dropped whole; a
    *     partial containing ANY non-late record is folded whole. A
    *     non-late record is therefore never dropped, and an
    *     individually-late record that rode a live partial is folded —
    *     strictly CLOSER to the full-corpus batch oracle than a
    *     per-record cut;
    *   - a NON-late record arriving after eviction starts a NEW
    *     incarnation (fresh birth mark). Its emission carries only the
    *     new accumulator; the sink's [[foldMerge]] folds the evicted
    *     incarnation's contribution back in, so the sunk row is
    *     EXTENDED, never overwritten by a partial restart.
    */
  private def boundedUpdate[S, O](spec: EntityFold[S, O], horizonMs: Long)(
      key: Long, parts: Iterator[PreFold[S]], state: GroupState[IncSt[S]]): Iterator[SinkRow[O, S]] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else advance(spec, horizonMs, state.getOption, parts, state)(identity)
      .map(inc => SinkRow(key, spec.tenant(key), spec.render(key, inc.st),
        inc.inc_ts, inc.inc_id, inc.st, None)).iterator

  /** One bounded-fold step for a key, shared by [[boundedUpdate]] and
    * the import loop ([[loopUpdate]]): the late cut, the merge of the
    * live partials into the `open` incarnation (a fresh one, birth-
    * marked by its earliest record, when None), the state write
    * (`put` wraps the incarnation in the caller's state shape) and the
    * timeout re-armed `horizonMs` past the newest record. None, with
    * the state untouched, when every partial was late.
    */
  private def advance[S, T](spec: EntityFold[S, _], horizonMs: Long,
      open: Option[IncSt[S]], parts: Iterator[PreFold[S]], state: GroupState[T])(
      put: IncSt[S] => T): Option[IncSt[S]] = {
    val wm = state.getCurrentWatermarkMs()
    // materialized eagerly: maxTs must be final BEFORE the timeout is
    // armed, whatever the inner merge's strictness
    val live = parts.filter(_.max_ts >= wm).toArray
    if (live.isEmpty) None
    else {
      val (incTs, incId) = open.map(p => (p.inc_ts, p.inc_id))
        .getOrElse(live.iterator.map(p => (p.ord_ts, p.ord_id)).min)
      val inc = IncSt(incTs, incId, live.foldLeft(open.map(_.st).getOrElse(spec.empty))(
        (s, p) => spec.merge(s, p.st)))
      state.update(put(inc))
      state.setTimeoutTimestamp(math.max(live.iterator.map(_.max_ts).max, wm) + horizonMs)
      Some(inc)
    }
  }

  /** The import loop's accumulator: the entity fold's own plus the
    * association bit its instance's `signup` record sets
    * ([[OutOfOrder.associates]]). OR is a monoid, so the bit rides the
    * map-side pre-fold and the incarnation merge like any other field.
    */
  case class Assoc[S](assoc: Boolean, st: S)

  private def associating[S, O](spec: EntityFold[S, O]): EntityFold[Assoc[S], O] =
    EntityFold(Assoc(assoc = false, spec.empty),
      (a, r) => Assoc(a.assoc || OutOfOrder.associates(r), spec.step(a.st, r)),
      (a, b) => Assoc(a.assoc || b.assoc, spec.merge(a.st, b.st)),
      (k, a) => spec.render(k, a.st), spec.tenant)

  /** The import loop's keyed state: whether the instance is associated
    * (sticky across incarnations) and its open incarnation — None once
    * an associated incarnation is evicted, which leaves this
    * constant-size marker behind.
    */
  case class LoopSt[S](assoc: Boolean, open: Option[IncSt[Assoc[S]]])

  /** The import loop's ONE stateful operator: [[boundedUpdate]] gated
    * on the association. Records are folded whether or not their
    * instance's signup has arrived (every fold is a commutative monoid,
    * so folding early equals folding after a buffer flush); the bit
    * only decides whether the key may reach the sink:
    *
    *   - a key emits [[SinkRow]]s only once it is associated — the
    *     batch its signup lands in emits everything folded before it;
    *   - an orphan incarnation (signup never arrived) is removed at the
    *     horizon without ever emitting — the reference's
    *     TempDocumentStore leak never reaches an entity;
    *   - an evicted associated incarnation leaves the marker for
    *     [[OutOfOrder.AssocHorizonMs]]: a later burst with no signup
    *     opens a fresh incarnation that still emits, and the sink's
    *     [[foldMerge]] merges it into the sunk row.
    */
  private def loopUpdate[S, O](spec: EntityFold[Assoc[S], O], horizonMs: Long)(
      key: Long, parts: Iterator[PreFold[Assoc[S]]],
      state: GroupState[LoopSt[S]]): Iterator[SinkRow[O, S]] =
    if (state.hasTimedOut) {
      if (state.get.assoc && state.get.open.isDefined) {
        state.update(LoopSt(assoc = true, None))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + OutOfOrder.AssocHorizonMs)
      } else state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption
      val wasAssoc = prev.exists(_.assoc)
      advance(spec, horizonMs, prev.flatMap(_.open), parts, state)(
        inc => LoopSt(wasAssoc || inc.st.assoc, Some(inc)))
        .filter(inc => wasAssoc || inc.st.assoc)
        .map(inc => SinkRow(key, spec.tenant(key), spec.render(key, inc.st),
          inc.inc_ts, inc.inc_id, inc.st.st, None)).iterator
    }

  import scala.reflect.runtime.universe.TypeTag
  import org.apache.spark.sql.{Encoder, Encoders}

  /** The keyed-fold constructor: any [[EntityFold]] over a streaming
    * events frame, as a watermark + EventTimeTimeout bounded fold
    * ([[boundedUpdate]]) emitting [[SinkRow]]s for the merging sink
    * ([[foldMerge]]). Exact for every record within the `watermark`'s
    * disorder bound, even across the idle-gap evictions `horizonMs`
    * drives; a caller whose disorder is wider passes a wider watermark.
    *
    * The map-side [[preFold]] runs BEFORE the stateful shuffle, so the
    * exchange carries per-(key, input-partition) partials, never raw
    * records — a hot key's per-record fold work is spread across the
    * input partitions and its single stateful task only merges ≤ one
    * partial per input partition per batch. The watermark column is
    * assigned on the partial's `max_ts`: the batch maximum over
    * partials equals the maximum over raw records, so watermark
    * ADVANCEMENT is unchanged by the pre-fold.
    */
  def entityStream[S <: Product : TypeTag, O <: Product : TypeTag](
      events: DataFrame, spec: EntityFold[S, O], watermark: String = FoldWatermark,
      horizonMs: Long = EvictHorizonMs): DataFrame = {
    implicit val incEnc: Encoder[IncSt[S]] = Encoders.product[IncSt[S]]
    implicit val outEnc: Encoder[SinkRow[O, S]] = Encoders.product[SinkRow[O, S]]
    boundedFold(partials(events, spec), watermark, OutputMode.Update)(
      boundedUpdate(spec, horizonMs))
  }

  /** The bounded keyed operator over partials: the watermark on each
    * partial's newest record, then `update` per entity key under an
    * event-time timeout, emitting [[SinkRow]]s.
    */
  private def boundedFold[P <: Product : TypeTag, T : Encoder, U : Encoder](
      parts: Dataset[PreFold[P]], watermark: String, mode: OutputMode)(
      update: (Long, Iterator[PreFold[P]], GroupState[T]) => Iterator[U]): DataFrame =
    parts
      .withColumn("event_time", timestamp_millis(col("max_ts")))
      .withWatermark("event_time", watermark)
      .as[PreFold[P]](Encoders.product[PreFold[P]])
      .groupByKey(_.entity_key)(Encoders.scalaLong)
      .flatMapGroupsWithState(mode, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()

  /** The map-side [[preFold]] partials of an events frame (batch or
    * streaming) — what every keyed fold, stateful or not, shuffles.
    */
  private[graft] def partials[S <: Product : TypeTag](
      events: DataFrame, spec: EntityFold[S, _]): Dataset[PreFold[S]] =
    toRecs(events).mapPartitions(preFold(spec))(Encoders.product[PreFold[S]])

  /** Stateless merge of partials: one shuffle on the entity key, the
    * fold's own `merge` per key, then `render`. Partials from any
    * split of the records — input partitions, time slices, import
    * runs — merge to the fold of all of them (FoldMonoidSpec).
    */
  private[graft] def mergePartials[S <: Product : TypeTag, O <: Product : TypeTag](
      parts: Dataset[PreFold[S]], spec: EntityFold[S, O]): Dataset[O] =
    parts.groupByKey(_.entity_key)(Encoders.scalaLong)
      .flatMapGroups((k, ps) =>
        spec.render(k, ps.foldLeft(spec.empty)((s, p) => spec.merge(s, p.st))))(
        Encoders.product[O])

  /** An entity built from a batch events frame with the SAME fold the
    * stream runs — [[entityStream]]'s pre-fold plus a merge with no
    * state store — so batch builds and the stream share one rule set.
    */
  def entityBatch[S <: Product : TypeTag, O <: Product : TypeTag](
      events: DataFrame, spec: EntityFold[S, O]): Dataset[O] =
    mergePartials(partials(events, spec), spec)

  /** The sink-side read-modify-write for bounded folds — the merge
    * step of TenantUpsertSink.upsert. For each arriving [[SinkRow]]:
    *
    *   - no existing row → closed = empty (first sighting);
    *   - existing row, SAME incarnation mark → cumulative re-emission:
    *     keep the existing `closed`, replace `open`;
    *   - existing row, DIFFERENT mark → the previous incarnation was
    *     evicted upstream and can never emit again: fold its
    *     closed ⊕ open into the new `closed`.
    *
    * `rows` re-renders from closed ⊕ open, so the sunk entity row
    * always reflects EVERY record ever folded for the key — eviction
    * is invisible downstream. Replaying a micro-batch after a crash
    * re-derives the identical row (incarnation identity is stable), so
    * the sink stays idempotent without batch-id bookkeeping.
    */
  def foldMerge[S <: Product : TypeTag, O <: Product : TypeTag](
      spec: EntityFold[S, O]): (DataFrame, DataFrame) => DataFrame = (current, batch) => {
    implicit val enc: Encoder[SinkRow[O, S]] = Encoders.product[SinkRow[O, S]]
    val cols = Seq("entity_key", "tenant", "rows", "inc_ts", "inc_id", "open", "closed")
    val cur = current.selectExpr(cols: _*).as[SinkRow[O, S]]
    val nw = batch.selectExpr(cols: _*).as[SinkRow[O, S]]
    nw.joinWith(cur, nw("entity_key") === cur("entity_key"), "left_outer")
      .map { case (n, o) =>
        val closed: Option[S] =
          if (o == null) None
          else if (o.inc_ts == n.inc_ts && o.inc_id == n.inc_id) o.closed
          else Some(spec.merge(o.closed.getOrElse(spec.empty), o.open))
        val total = closed.map(spec.merge(_, n.open)).getOrElse(n.open)
        SinkRow(n.entity_key, n.tenant, spec.render(n.entity_key, total),
          n.inc_ts, n.inc_id, n.open, closed)
      }.toDF()
  }

  /** The JDBC arm of the bounded-fold sink contract: a foreachBatch
    * body landing [[SinkRow]]s through [[JdbcUpsert]]'s per-tenant SQL
    * MERGE. The incarnation merge runs in Spark against the sink's
    * CURRENT rows — the read-modify-write the reference performs
    * against MySQL on a cache miss — and the nested accumulators
    * travel as JSON columns (the JSON/BLOB column a relational entity
    * table carries for them). Keys absent from the batch are never
    * touched (MERGE semantics), so only the modified entities pay.
    */
  def jdbcFoldUpsert[S <: Product : TypeTag, O <: Product : TypeTag](
      url: String, baseTable: String, spec: EntityFold[S, O])(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val schema = Encoders.product[SinkRow[O, S]].schema
    def flat(df: DataFrame): DataFrame = df.select(
      col("entity_key"), col("tenant"), col("inc_ts"), col("inc_id"),
      to_json(col("rows")).as("rows_json"),
      to_json(col("open")).as("open_json"),
      to_json(col("closed")).as("closed_json"))
    // a foreachBatch frame re-runs its (stateful) plan per action —
    // cache it so the key collection and the merge join reuse one
    // evaluation
    batch.persist()
    try {
      val tenants = JdbcUpsert.tenantsOf(url, baseTable)
      val merged =
        if (tenants.isEmpty) batch
        else {
          // read-modify-write reads ONLY the batch's keys — the same
          // selectivity the reference's findByWorkflowInstanceKey
          // point-reads have — via a database-side semi-join: the
          // batch's distinct keys land in a staging side table
          // (executor-side inserts, nothing through the driver) and
          // each tenant read is an EXISTS against it. No driver
          // collect, no literal IN list — an AvailableNow first batch
          // equal to the whole backlog stages keys at O(batch) write
          // cost instead of OOMing the driver or overflowing a SQL
          // statement.
          val stage = JdbcUpsert.stageTableFor(baseTable)
          val runId = JdbcUpsert.stageKeys(url, stage, batch.select("entity_key").distinct())
          val current = jdbcFoldRead(spark, url, baseTable, schema, tenants, Some((stage, runId)))
          foldMerge(spec).apply(current, batch)
        }
      JdbcUpsert.upsert(url, baseTable, flat(merged), "entity_key")
    } finally batch.unpersist()
  }

  /** Read a JDBC fold sink back in [[SinkRow]] shape (JSON state
    * columns re-nested). Shared by [[jdbcFoldUpsert]]'s merge read and
    * final consumers.
    */
  def jdbcFoldRead(spark: SparkSession, url: String, baseTable: String,
      schema: org.apache.spark.sql.types.StructType,
      tenants: Seq[String], keyedBy: Option[(String, String)] = None): DataFrame =
    JdbcUpsert.readCurrent(spark, url, baseTable, tenants, keyedBy).select(
      col("entity_key"), col("tenant"), col("inc_ts"), col("inc_id"),
      from_json(col("rows_json"), schema("rows").dataType).as("rows"),
      from_json(col("open_json"), schema("open").dataType).as("open"),
      from_json(col("closed_json"), schema("closed").dataType).as("closed"))

  /** End-to-end bounded-fold runner: stream → bounded fold → merging
    * tenant-routed upsert sink → read back the rendered entity rows.
    */
  private def runFold[S <: Product : TypeTag, O <: Product : TypeTag](
      spark: SparkSession, dir: String, spec: EntityFold[S, O],
      label: String): DataFrame =
    runPipeline(spark, dir,
      events => entityStream(events, spec),
      "entity_key", merge = Some(foldMerge(spec)), label = label)
      .select(explode(col("rows")).as("r"))
      .select("r.*")

  /** events DataFrame (batch or streaming) → typed record stream:
    * parse + route, dropping the record classes the reference drops
    * is NOT done here — the state machine consumes every class
    * (routing demo lives in ImporterCore.impParseRoute).
    */
  def toRecs(events: DataFrame): Dataset[Rec] = {
    import events.sparkSession.implicits._
    val k =
      if (events.columns.contains("props"))
        coalesce(graft.sources.RawIngest.payloadK(events.sparkSession, col("props")), lit(0L))
      else col("k")
    events.select(
      col("event_id"), col("ts_ms"), col("user_id"), col("event_type"),
      col("value"), k.as("k"))
      .as[Rec]
  }

  /** Disjoint-record-set merge of two transfer accumulators — the
    * entity monoid (min/max/sum/or + last-write by (ts, id) mark).
    */
  private def mergeSt(a: St, b: St): St = {
    val clickFromB = isAfter(b.lastTs, b.lastId, a.lastTs, a.lastId)
    St(started = math.min(a.started, b.started),
      completed = math.max(a.completed, b.completed),
      amountE2 = a.amountE2 + b.amountE2,
      lastTs = if (clickFromB) b.lastTs else a.lastTs,
      lastId = if (clickFromB) b.lastId else a.lastId,
      lastClickE2 = if (clickFromB) b.lastClickE2 else a.lastClickE2,
      hasClick = a.hasClick || b.hasClick,
      hasAmount = a.hasAmount || b.hasAmount,
      failed = a.failed || b.failed,
      done = a.done || b.done,
      n = a.n + b.n)
  }

  /** The transfers entity fold as its monoid. */
  val transferFold: EntityFold[St, TransferRow] =
    EntityFold(EmptySt, fold, mergeSt, (k, s) => Seq(render(k, s)), k => "t" + (k % 10))

  // ------------------------------------------------ TransactionRequest

  /** TransactionRequest state. Unlike Transfer's monotone flags,
    * `transactionState` is LAST-WRITE-WINS — every parser call
    * overwrites it (VariableParser.parsePartyLookUpState:124-133,
    * parseTransactionFailed:113-122, parseSettlementFiled:102-111,
    * parseTransactionRequestFailed:247-250), so the latest
    * state-carrying record's signal wins ([[txnSignal]]: all five
    * TransactionRequestState values are reachable).
    *
    * Scalar registry columns (VariableParser.java:71-83), each writer
    * group with its own last-write mark: `authType` (:71;
    * parseTransactionRequest:268-269 defaults to NONE) rides signup;
    * `partyLookupFspId` → payer_dfsp_id (:73) rides view;
    * `initiatorFspId` → payee_dfsp_id (:74) is DIRECTION-GUARDED
    * (parseInitiatorFspId:285-289 writes only for OUTGOING requests,
    * odd user_id in the parity stand-in) and rides click;
    * `mpesaChannelRequest` (:83 → parseTransactionMpesaRequest:236-240)
    * overwrites initiatorType AND scenario in one write, carried by
    * non-fatal error records (fatal ones are the request-failed
    * signal).
    */
  case class TxnSt(state: String, stateTs: Long, stateId: Long, started: Long,
    completed: Long, amountE2: Long, hasAmount: Boolean,
    auth: String, authTs: Long, authId: Long,
    payerDfsp: String, payerDfspTs: Long, payerDfspId_ : Long,
    payeeDfsp: String, payeeDfspTs: Long, payeeDfspId_ : Long,
    initiator: String, scenario: String, mpesaTs: Long, mpesaId: Long,
    n: Long)

  private val EmptyTxnSt = TxnSt("IN_PROGRESS", Long.MinValue, Long.MinValue,
    Long.MaxValue, Long.MinValue, 0L, hasAmount = false,
    "NONE", Long.MinValue, Long.MinValue,
    "", Long.MinValue, Long.MinValue,
    "", Long.MinValue, Long.MinValue,
    "", "", Long.MinValue, Long.MinValue,
    0L)

  case class TxnRow(txn_key: Long, tenant: String, state: String,
    started_ms: Long, completed_ms: Long, amount: String,
    auth_type: String, payer_dfsp_id: String, payee_dfsp_id: String,
    initiator_type: String, scenario: String,
    n_events: Long)

  /** The state signal a record carries: signup → RECEIVED, view →
    * party lookup, click → transaction progress (k ∈ [80,90) is
    * parseTransactionRequestResponse's reject arm), purchase →
    * settlement, error → request-failed only when fatal (non-fatal
    * errors carry none, like parseTransactionRequestFailed's
    * "true"-only write).
    */
  private def txnSignal(r: Rec): Option[String] = {
    val fatal = r.k >= 90
    r.event_type match {
      case "signup" => Some("RECEIVED")
      case "view" => Some(if (fatal) "FAILED" else "RECEIVED")
      // k ∈ [80,90): the request-response reject arm — all five
      // reference states (TransactionRequestState.java:7) reachable
      case "click" => Some(
        if (fatal) "FAILED" else if (r.k >= 80) "REJECTED" else "IN_PROGRESS")
      case "purchase" => Some(if (fatal) "FAILED" else "ACCEPTED")
      case "error" if fatal => Some("FAILED")
      case _ => None
    }
  }

  private def foldTxn(st: TxnSt, r: Rec): TxnSt = {
    var s = st.copy(n = st.n + 1)
    txnSignal(r).foreach { sig =>
      if (isAfter(r.ts_ms, r.event_id, s.stateTs, s.stateId))
        s = s.copy(state = sig, stateTs = r.ts_ms, stateId = r.event_id)
    }
    if (r.event_type == "signup") {
      s = s.copy(started = math.min(s.started, r.ts_ms))
      // authType (VariableParser:71; parseTransactionRequest:268-269
      // NONE default) — last write wins
      if (isAfter(r.ts_ms, r.event_id, s.authTs, s.authId)) {
        val m = r.k % 3
        val a = if (m == 0) "NONE" else if (m == 1) "OTP" else "BIO"
        s = s.copy(auth = a, authTs = r.ts_ms, authId = r.event_id)
      }
    }
    if (r.event_type == "view" &&
        isAfter(r.ts_ms, r.event_id, s.payerDfspTs, s.payerDfspId_))
      // partyLookupFspId → payerDfspId (VariableParser:73)
      s = s.copy(payerDfsp = "dfsp-" + (r.k % 10),
        payerDfspTs = r.ts_ms, payerDfspId_ = r.event_id)
    if (r.event_type == "click" && r.user_id % 2 != 0 &&
        isAfter(r.ts_ms, r.event_id, s.payeeDfspTs, s.payeeDfspId_))
      // initiatorFspId → payeeDfspId, OUTGOING-only
      // (parseInitiatorFspId:285-289)
      s = s.copy(payeeDfsp = "fsp-" + (r.k % 10),
        payeeDfspTs = r.ts_ms, payeeDfspId_ = r.event_id)
    if (r.event_type == "purchase")
      s = s.copy(completed = math.max(s.completed, r.ts_ms),
        amountE2 = s.amountE2 + cents(r.value), hasAmount = true)
    if (r.event_type == "error" && r.k < 90 &&
        isAfter(r.ts_ms, r.event_id, s.mpesaTs, s.mpesaId)) {
      // mpesaChannelRequest (VariableParser:83 →
      // parseTransactionMpesaRequest:236-240): one record overwrites
      // BOTH initiatorType and scenario — shared mark
      val init = (r.k % 3) match {
        case 0 => "CONSUMER"; case 1 => "AGENT"; case _ => "BUSINESS"
      }
      val scen = (r.k % 4) match {
        case 0 => "DEPOSIT"; case 1 => "WITHDRAWAL"; case 2 => "TRANSFER"; case _ => "PAYMENT"
      }
      s = s.copy(initiator = init, scenario = scen, mpesaTs = r.ts_ms, mpesaId = r.event_id)
    }
    s
  }

  private def renderTxn(key: Long, st: TxnSt): TxnRow = TxnRow(
    txn_key = key,
    tenant = "t" + (key % 10),
    state = st.state,
    started_ms = if (st.started == Long.MaxValue) -1L else st.started,
    completed_ms = if (st.completed == Long.MinValue) -1L else st.completed,
    amount = if (st.hasAmount) java.math.BigDecimal.valueOf(st.amountE2, 2).toPlainString else "",
    auth_type = st.auth,
    payer_dfsp_id = st.payerDfsp,
    payee_dfsp_id = st.payeeDfsp,
    initiator_type = st.initiator,
    scenario = st.scenario,
    n_events = st.n)

  /** TxnSt monoid merge: every last-write field travels with its own
    * (ts, id) mark, so the later mark wins regardless of which side
    * folded it.
    */
  private def mergeTxn(a: TxnSt, b: TxnSt): TxnSt = {
    val stB = isAfter(b.stateTs, b.stateId, a.stateTs, a.stateId)
    val auB = isAfter(b.authTs, b.authId, a.authTs, a.authId)
    val prB = isAfter(b.payerDfspTs, b.payerDfspId_, a.payerDfspTs, a.payerDfspId_)
    val peB = isAfter(b.payeeDfspTs, b.payeeDfspId_, a.payeeDfspTs, a.payeeDfspId_)
    val mpB = isAfter(b.mpesaTs, b.mpesaId, a.mpesaTs, a.mpesaId)
    TxnSt(
      state = if (stB) b.state else a.state,
      stateTs = if (stB) b.stateTs else a.stateTs,
      stateId = if (stB) b.stateId else a.stateId,
      started = math.min(a.started, b.started),
      completed = math.max(a.completed, b.completed),
      amountE2 = a.amountE2 + b.amountE2,
      hasAmount = a.hasAmount || b.hasAmount,
      auth = if (auB) b.auth else a.auth,
      authTs = if (auB) b.authTs else a.authTs,
      authId = if (auB) b.authId else a.authId,
      payerDfsp = if (prB) b.payerDfsp else a.payerDfsp,
      payerDfspTs = if (prB) b.payerDfspTs else a.payerDfspTs,
      payerDfspId_ = if (prB) b.payerDfspId_ else a.payerDfspId_,
      payeeDfsp = if (peB) b.payeeDfsp else a.payeeDfsp,
      payeeDfspTs = if (peB) b.payeeDfspTs else a.payeeDfspTs,
      payeeDfspId_ = if (peB) b.payeeDfspId_ else a.payeeDfspId_,
      initiator = if (mpB) b.initiator else a.initiator,
      scenario = if (mpB) b.scenario else a.scenario,
      mpesaTs = if (mpB) b.mpesaTs else a.mpesaTs,
      mpesaId = if (mpB) b.mpesaId else a.mpesaId,
      n = a.n + b.n)
  }

  val txnreqFold: EntityFold[TxnSt, TxnRow] =
    EntityFold(EmptyTxnSt, foldTxn, mergeTxn, (k, s) => Seq(renderTxn(k, s)), k => "t" + (k % 10))

  /** Streaming TransactionRequest materialization, driver-checked
    * against the SAME oracle as the batch imp_entity_txnreq.
    */
  def runTxnreqToCompletion(spark: SparkSession, dir: String): DataFrame =
    runFold(spark, dir, txnreqFold, "stream_txnreq")
      .select("txn_key", "tenant", "state", "started_ms", "completed_ms",
        "amount", "auth_type", "payer_dfsp_id", "payee_dfsp_id",
        "initiator_type", "scenario", "n_events")
      .orderBy("txn_key")

  // ------------------------------------------------------------ Batch

  /** Batch entity state (InflightBatchManager + batchParsers:88-91):
    * startedAt set once, completedAt from the end record, the progress
    * counters the operations UI reads — sub-transactions are the
    * click/view/purchase records, failed counts fatal errors,
    * completed counts purchases, ongoing is the remainder — plus the
    * registry's metadata strings with their own last-write marks:
    * requestFile from `fileName` (:89, rides signup, the batch
    * registration record) and note (:91, rides view); batchId (:88)
    * and requestId (:90) derive from the key.
    */
  case class BatchSt(started: Long, completed: Long, total: Long,
    done: Long, failed: Long,
    reqFile: String, reqFileTs: Long, reqFileId: Long,
    note: String, noteTs: Long, noteId: Long)

  private val EmptyBatchSt = BatchSt(Long.MaxValue, Long.MinValue, 0L, 0L, 0L,
    "", Long.MinValue, Long.MinValue, "", Long.MinValue, Long.MinValue)

  case class BatchRow(batch_key: Long, batch_id: String, request_id: String,
    request_file: String, note: String,
    started_ms: Long, completed_ms: Long, total_transactions: Long,
    ongoing: Long, failed: Long, completed: Long)

  private def foldBatch(st: BatchSt, r: Rec): BatchSt = {
    var s = st
    r.event_type match {
      case "signup" =>
        s = s.copy(started = math.min(s.started, r.ts_ms))
        if (isAfter(r.ts_ms, r.event_id, s.reqFileTs, s.reqFileId))
          s = s.copy(reqFile = s"f-${r.k}.csv",
            reqFileTs = r.ts_ms, reqFileId = r.event_id)
      case "purchase" => s = s.copy(completed = math.max(s.completed, r.ts_ms),
        total = s.total + 1, done = s.done + 1)
      case "view" =>
        s = s.copy(total = s.total + 1)
        if (isAfter(r.ts_ms, r.event_id, s.noteTs, s.noteId))
          s = s.copy(note = "note-" + (r.k % 5),
            noteTs = r.ts_ms, noteId = r.event_id)
      case "click" => s = s.copy(total = s.total + 1)
      case "error" => if (r.k >= 90) s = s.copy(failed = s.failed + 1)
      case _ => ()
    }
    s
  }

  private def renderBatch(key: Long, st: BatchSt): BatchRow = BatchRow(
    batch_key = key,
    batch_id = "b" + (key % 20),
    request_id = s"req-$key",
    request_file = st.reqFile,
    note = st.note,
    started_ms = if (st.started == Long.MaxValue) -1L else st.started,
    completed_ms = if (st.completed == Long.MinValue) -1L else st.completed,
    total_transactions = st.total,
    ongoing = math.max(st.total - st.done, 0L),
    failed = st.failed,
    completed = st.done)

  /** BatchSt monoid merge: counter sums + mark-guarded metadata. */
  private def mergeBatch(a: BatchSt, b: BatchSt): BatchSt = {
    val rfB = isAfter(b.reqFileTs, b.reqFileId, a.reqFileTs, a.reqFileId)
    val ntB = isAfter(b.noteTs, b.noteId, a.noteTs, a.noteId)
    BatchSt(
      started = math.min(a.started, b.started),
      completed = math.max(a.completed, b.completed),
      total = a.total + b.total,
      done = a.done + b.done,
      failed = a.failed + b.failed,
      reqFile = if (rfB) b.reqFile else a.reqFile,
      reqFileTs = if (rfB) b.reqFileTs else a.reqFileTs,
      reqFileId = if (rfB) b.reqFileId else a.reqFileId,
      note = if (ntB) b.note else a.note,
      noteTs = if (ntB) b.noteTs else a.noteTs,
      noteId = if (ntB) b.noteId else a.noteId)
  }

  val batchFold: EntityFold[BatchSt, BatchRow] =
    EntityFold(EmptyBatchSt, foldBatch, mergeBatch, (k, s) => Seq(renderBatch(k, s)), k => "t" + (k % 10))

  /** Streaming Batch materialization — same oracle as the batch
    * imp_entity_batches.
    */
  def runBatchesToCompletion(spark: SparkSession, dir: String): DataFrame =
    runFold(spark, dir, batchFold, "stream_batches")
      .select("batch_key", "batch_id", "request_id", "request_file", "note",
        "started_ms", "completed_ms",
        "total_transactions", "ongoing", "failed", "completed")
      .orderBy("batch_key")

  // ------------------------------------------------------------- Wide

  /** Wide Transfer state: the registry's nested-JSON classes, PREPARE,
    * the raw-string dual parser and the plain scalars
    * (VariableParser.java:41-69). Each record synthesizes its
    * variable's JSON document and parses it back (multi-level paths,
    * decimal amounts/fees, parsed timestamps, direction routing), as
    * the reference's JsonPath extraction does. Record routing, by
    * event type and payload k (missing k reads 0):
    *
    *   - signup k < 50: `channelRequest` (:50 → parseChannelRequest:
    *     200-211) — party ids/types, amount, currency;
    *   - signup k ∈ [50,90): `quoteSwitchRequest` (:42 →
    *     parseQuoteSwitchRequest:139-153) — the SAME party/amount
    *     columns plus transactionId and the party fspIds;
    *   - purchase k < 90: `transferResponse-CREATE` (:46 →
    *     parseTransferResponse:174-183) — completedTimestamp
    *     (`yyyy-MM-dd'T'HH:mm:ss`) and transferState;
    *   - click k < 90: `transferResponse-PREPARE` (:45 →
    *     parseTransferResponsePrepare:189-198) — the same completedAt;
    *   - view k < 50: `localQuoteResponse` (:41 →
    *     parseTransferLocalQuoteResponse:155-166) — fee, currency and
    *     quote code to the payee_* columns for INCOMING transfers, to
    *     payer_* otherwise (direction: user_id parity, the stand-in
    *     for the per-process application.yml config);
    *   - view k ∈ [50,90): `payeeQuoteResponse` (:43 →
    *     parsePayeeQuoteResponse:168-172) — payee fee/currency,
    *     UN-routed;
    *   - error: `errorInformation` (:51-52), a DUAL parser — the raw
    *     string (parseErrorInformation:213-215) and
    *     parseTransferCreateFailed:185-187 ("false" → COMPLETED, else
    *     FAILED);
    *   - k >= 90 of signup/purchase/click/view: the thirteen PLAIN
    *     set-call scalars (:44, 55-69), sub-routed by event_id mod the
    *     class's scalar count, each writing a column a nested class
    *     also writes.
    *
    * So almost every column has two writers, and each column (or group
    * always written together) carries its OWN last-write mark:
    *
    *   - party core (party ids + amount): channelRequest AND
    *     quoteSwitchRequest only — one shared mark;
    *   - id types / currency: the nested party classes OR the
    *     sourceAccountType / targetAccountType / currency scalars;
    *   - transactionId / dfsp ids: quoteSwitchRequest OR the
    *     transactionId / sourceInstitution / targetInstitution scalars;
    *   - completedMs: CREATE and PREPARE share a mark while
    *     transferState is CREATE-only;
    *   - payer fee/currency/quoteCode: outgoing-routed
    *     localQuoteResponse OR sourceFee/sourceCurrency/sourceQuoteCode;
    *   - payee fee/currency: incoming-routed localQuoteResponse, the
    *     un-routed payeeQuoteResponse, OR targetFee/targetCurrency;
    *     payee_quote_code: incoming localQuoteResponse, quoteId (:44)
    *     or targetQuoteCode;
    *   - errorInformation + status: the dual error parser.
    */
  case class LastMark(ts: Long, id: Long)
  case class MarkStr(m: LastMark, v: String)
  case class PartyCore(m: LastMark, payerPartyId: String,
    payeePartyId: String, amount: String)
  case class CmplSt(m: LastMark, ms: Long)
  case class ErrSt(m: LastMark, info: String, status: String)
  case class WideSt(party: PartyCore,
    payerIdType: MarkStr, payeeIdType: MarkStr, currency: MarkStr,
    txnId: MarkStr, payerDfsp: MarkStr, payeeDfsp: MarkStr,
    state: MarkStr, cmpl: CmplSt,
    payerFee: MarkStr, payerFeeCur: MarkStr, payerQuote: MarkStr,
    payeeFee: MarkStr, payeeFeeCur: MarkStr, payeeQuote: MarkStr,
    err: ErrSt)

  private val NoMark = LastMark(Long.MinValue, Long.MinValue)
  private val NoStr = MarkStr(NoMark, "")
  private val EmptyWideSt = WideSt(
    PartyCore(NoMark, "", "", ""),
    NoStr, NoStr, NoStr,
    NoStr, NoStr, NoStr,
    NoStr, CmplSt(NoMark, -1L),
    NoStr, NoStr, NoStr,
    NoStr, NoStr, NoStr,
    ErrSt(NoMark, "", "IN_PROGRESS"))

  private def after(r: Rec, m: LastMark): Boolean =
    isAfter(r.ts_ms, r.event_id, m.ts, m.id)

  private def markOf(r: Rec): LastMark = LastMark(r.ts_ms, r.event_id)

  /** tenant is carried for the sink's partition routing and dropped
    * from the oracle-checked projection (the wide entity has none).
    */
  case class WideRow(transfer_key: Long, tenant: String,
    payer_party_id: String, payer_id_type: String,
    payee_party_id: String, payee_id_type: String,
    amount: String, currency: String,
    transaction_id: String, payer_dfsp_id: String, payee_dfsp_id: String,
    completed_ms: Long, transfer_state: String,
    payer_fee: String, payer_fee_currency: String, payer_quote_code: String,
    payee_fee: String, payee_fee_currency: String, payee_quote_code: String,
    error_information: String, status: String)

  // Jackson ships on Spark's classpath; ObjectMapper.readTree is
  // thread-safe after construction
  private lazy val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private val WideTsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private def amountStr(v: Double): String =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString

  /** Parse a synthesized `transferResponse-*` document and return the
    * epoch-millis of its completedTimestamp (both CREATE and PREPARE
    * carry one — VariableParser:174-183 / :189-198).
    */
  private def completedOf(r: Rec, withState: Boolean): (Long, String) = {
    val root = json.createObjectNode()
    root.put("completedTimestamp", WideTsFmt.format(
      java.time.Instant.ofEpochMilli(r.ts_ms).atOffset(java.time.ZoneOffset.UTC)))
    if (withState) root.put("transferState", "COMMITTED")
    val doc = json.readTree(json.writeValueAsString(root))
    val parsedMs = java.time.LocalDateTime
      .parse(doc.at("/completedTimestamp").asText(), WideTsFmt)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    (parsedMs, doc.at("/transferState").asText())
  }

  private def foldWide(st: WideSt, r: Rec): WideSt = {
    def upd(f: MarkStr)(v: => String): MarkStr =
      if (after(r, f.m)) MarkStr(markOf(r), v) else f
    r.event_type match {
      case "signup" if r.k < 50 =>
        // channelRequest — party core + id types + currency; one JSON
        // round-trip serves every guard that fires
        var s = st
        if (after(r, s.party.m) || after(r, s.payerIdType.m) ||
            after(r, s.payeeIdType.m) || after(r, s.currency.m)) {
          val root = json.createObjectNode()
          root.putObject("payer").putObject("partyIdInfo")
            .put("partyIdType", "MSISDN")
            .put("partyIdentifier", "277" + (r.user_id % 100))
          root.putObject("payee").putObject("partyIdInfo")
            .put("partyIdType", "ACCOUNT_ID")
            .put("partyIdentifier", "acct-" + (r.user_id % 50))
          root.putObject("amount")
            .put("amount", amountStr(r.value))
            .put("currency", if (r.user_id % 2 == 0) "USD" else "KES")
          val doc = json.readTree(json.writeValueAsString(root))
          if (after(r, s.party.m))
            s = s.copy(party = PartyCore(markOf(r),
              payerPartyId = doc.at("/payer/partyIdInfo/partyIdentifier").asText(),
              payeePartyId = doc.at("/payee/partyIdInfo/partyIdentifier").asText(),
              amount = doc.at("/amount/amount").asText()))
          s = s.copy(
            payerIdType = upd(s.payerIdType)(doc.at("/payer/partyIdInfo/partyIdType").asText()),
            payeeIdType = upd(s.payeeIdType)(doc.at("/payee/partyIdInfo/partyIdType").asText()),
            currency = upd(s.currency)(doc.at("/amount/currency").asText()))
        }
        s
      case "signup" if r.k < 90 =>
        // quoteSwitchRequest (parseQuoteSwitchRequest:139-153) — the
        // SAME columns as channelRequest plus transactionId + fspIds
        var s = st
        if (after(r, s.party.m) || after(r, s.payerIdType.m) ||
            after(r, s.payeeIdType.m) || after(r, s.currency.m) ||
            after(r, s.txnId.m) || after(r, s.payerDfsp.m) || after(r, s.payeeDfsp.m)) {
          val root = json.createObjectNode()
          root.put("transactionId", s"txn-${r.user_id}-${r.event_id % 100}")
          val payer = root.putObject("payer").putObject("partyIdInfo")
          payer.put("partyIdType", "IBAN")
            .put("partyIdentifier", "PI" + (r.user_id % 77))
            .put("fspId", "fsp" + (r.k % 10))
          val payee = root.putObject("payee").putObject("partyIdInfo")
          payee.put("partyIdType", "MSISDN")
            .put("partyIdentifier", "266" + (r.user_id % 99))
            .put("fspId", "fsp" + ((r.k + 1) % 10))
          root.putObject("amount")
            .put("amount", amountStr(r.value))
            .put("currency", if (r.k % 2 == 0) "EUR" else "GHS")
          val doc = json.readTree(json.writeValueAsString(root))
          if (after(r, s.party.m))
            s = s.copy(party = PartyCore(markOf(r),
              payerPartyId = doc.at("/payer/partyIdInfo/partyIdentifier").asText(),
              payeePartyId = doc.at("/payee/partyIdInfo/partyIdentifier").asText(),
              amount = doc.at("/amount/amount").asText()))
          s = s.copy(
            payerIdType = upd(s.payerIdType)(doc.at("/payer/partyIdInfo/partyIdType").asText()),
            payeeIdType = upd(s.payeeIdType)(doc.at("/payee/partyIdInfo/partyIdType").asText()),
            currency = upd(s.currency)(doc.at("/amount/currency").asText()),
            txnId = upd(s.txnId)(doc.at("/transactionId").asText()),
            payerDfsp = upd(s.payerDfsp)(doc.at("/payer/partyIdInfo/fspId").asText()),
            payeeDfsp = upd(s.payeeDfsp)(doc.at("/payee/partyIdInfo/fspId").asText()))
        }
        s
      case "signup" =>
        // plain scalars riding signup (VariableParser:55,59,68,69):
        // transactionId / currency / sourceAccountType / targetAccountType
        (r.event_id % 4) match {
          case 0 => st.copy(txnId = upd(st.txnId)(s"ptx-${r.user_id}-${r.event_id % 100}"))
          case 1 => st.copy(currency = upd(st.currency)((r.event_id % 3) match {
            case 0 => "MWK"; case 1 => "ZMW"; case _ => "UGX"
          }))
          case 2 => st.copy(payerIdType = upd(st.payerIdType)((r.event_id % 3) match {
            case 0 => "MSISDN"; case 1 => "IBAN"; case _ => "ACCOUNT_ID"
          }))
          case _ => st.copy(payeeIdType = upd(st.payeeIdType)((r.event_id % 3) match {
            case 0 => "ALIAS"; case 1 => "MSISDN"; case _ => "IBAN"
          }))
        }
      case "purchase" if r.k < 90 =>
        // transferResponse-CREATE: transferState last-write on its own
        // mark, completedAt on the shared CREATE+PREPARE mark — one
        // JSON round-trip serves both guards
        var s = st
        val afterState = after(r, s.state.m)
        val afterCmpl = after(r, s.cmpl.m)
        if (afterState || afterCmpl) {
          val (ms, state) = completedOf(r, withState = true)
          if (afterState) s = s.copy(state = MarkStr(markOf(r), state))
          if (afterCmpl) s = s.copy(cmpl = CmplSt(markOf(r), ms))
        }
        s
      case "purchase" =>
        // plain scalars riding purchase (:62,63,44): sourceFee /
        // targetFee (BigDecimal parse) / quoteId → payeeQuoteCode
        (r.event_id % 3) match {
          case 0 => st.copy(payerFee = upd(st.payerFee)(amountStr(r.value)))
          case 1 => st.copy(payeeFee = upd(st.payeeFee)(amountStr(r.value)))
          case _ => st.copy(payeeQuote = upd(st.payeeQuote)("QID-" + (r.event_id % 1000)))
        }
      case "click" if r.k < 90 =>
        // transferResponse-PREPARE: writes the same completedAt field
        if (after(r, st.cmpl.m)) {
          val (ms, _) = completedOf(r, withState = false)
          st.copy(cmpl = CmplSt(markOf(r), ms))
        } else st
      case "click" =>
        // plain scalars riding click (:64,65): sourceInstitution /
        // targetInstitution → dfsp ids
        (r.event_id % 2) match {
          case 0 => st.copy(payerDfsp = upd(st.payerDfsp)("inst-" + (r.k % 10)))
          case _ => st.copy(payeeDfsp = upd(st.payeeDfsp)("tinst-" + (r.k % 10)))
        }
      case "view" if r.k < 50 =>
        // localQuoteResponse: direction-routed at FOLD time — INCOMING
        // (even key) → payee fee/currency/quote code, OUTGOING → payer
        val incoming = r.user_id % 2 == 0
        val needPayee = incoming && (after(r, st.payeeFee.m) ||
          after(r, st.payeeFeeCur.m) || after(r, st.payeeQuote.m))
        val needPayer = !incoming && (after(r, st.payerFee.m) ||
          after(r, st.payerFeeCur.m) || after(r, st.payerQuote.m))
        if (needPayee || needPayer) {
          val root = json.createObjectNode()
          root.putObject("fspFee")
            .put("amount", amountStr(r.value))
            .put("currency", if (r.event_id % 2 == 0) "USD" else "TZS")
          root.put("quoteCode", "LQ-" + (r.event_id % 1000))
          val doc = json.readTree(json.writeValueAsString(root))
          val fee = doc.at("/fspFee/amount").asText()
          val cur = doc.at("/fspFee/currency").asText()
          val code = doc.at("/quoteCode").asText()
          if (incoming)
            st.copy(payeeFee = upd(st.payeeFee)(fee),
              payeeFeeCur = upd(st.payeeFeeCur)(cur),
              payeeQuote = upd(st.payeeQuote)(code))
          else
            st.copy(payerFee = upd(st.payerFee)(fee),
              payerFeeCur = upd(st.payerFeeCur)(cur),
              payerQuote = upd(st.payerQuote)(code))
        } else st
      case "view" if r.k < 90 =>
        // payeeQuoteResponse (parsePayeeQuoteResponse:168-172):
        // UN-routed payee fee/currency; quote code untouched
        if (after(r, st.payeeFee.m) || after(r, st.payeeFeeCur.m)) {
          val root = json.createObjectNode()
          root.putObject("payeeFspFee")
            .put("amount", amountStr(r.value))
            .put("currency", if (r.event_id % 2 == 0) "XOF" else "NGN")
          val doc = json.readTree(json.writeValueAsString(root))
          st.copy(
            payeeFee = upd(st.payeeFee)(doc.at("/payeeFspFee/amount").asText()),
            payeeFeeCur = upd(st.payeeFeeCur)(doc.at("/payeeFspFee/currency").asText()))
        } else st
      case "view" =>
        // plain scalars riding view (:60,61,66,67): sourceCurrency /
        // targetCurrency / sourceQuoteCode / targetQuoteCode
        (r.event_id % 4) match {
          case 0 => st.copy(payerFeeCur = upd(st.payerFeeCur)((r.event_id % 3) match {
            case 0 => "TZS"; case 1 => "XOF"; case _ => "GMD"
          }))
          case 1 => st.copy(payeeFeeCur = upd(st.payeeFeeCur)((r.event_id % 3) match {
            case 0 => "NGN"; case 1 => "KES"; case _ => "ETB"
          }))
          case 2 => st.copy(payerQuote = upd(st.payerQuote)("SQ-" + (r.event_id % 1000)))
          case _ => st.copy(payeeQuote = upd(st.payeeQuote)("TQ-" + (r.event_id % 1000)))
        }
      case "error" if after(r, st.err.m) =>
        // errorInformation dual parser (VariableParser:51-52): store the
        // raw string AND run the transferCreateFailed state write
        // ("false" = book-funds success → COMPLETED, else FAILED)
        val raw = if (r.k >= 90) s"err-${r.k}" else "false"
        st.copy(err = ErrSt(markOf(r), raw,
          if (raw == "false") "COMPLETED" else "FAILED"))
      case _ => st
    }
  }

  private def renderWide(key: Long, st: WideSt): WideRow = WideRow(
    transfer_key = key,
    tenant = "t" + (key % 10),
    payer_party_id = st.party.payerPartyId, payer_id_type = st.payerIdType.v,
    payee_party_id = st.party.payeePartyId, payee_id_type = st.payeeIdType.v,
    amount = st.party.amount, currency = st.currency.v,
    transaction_id = st.txnId.v,
    payer_dfsp_id = st.payerDfsp.v, payee_dfsp_id = st.payeeDfsp.v,
    completed_ms = st.cmpl.ms, transfer_state = st.state.v,
    payer_fee = st.payerFee.v,
    payer_fee_currency = st.payerFeeCur.v,
    payer_quote_code = st.payerQuote.v,
    payee_fee = st.payeeFee.v,
    payee_fee_currency = st.payeeFeeCur.v,
    payee_quote_code = st.payeeQuote.v,
    error_information = st.err.info,
    status = st.err.status)

  /** WideSt monoid merge: every column group is last-write-wins on its
    * own mark, so the merge just picks the later-marked value.
    */
  private def mergeWide(a: WideSt, b: WideSt): WideSt = {
    def later(am: LastMark, bm: LastMark): Boolean = isAfter(bm.ts, bm.id, am.ts, am.id)
    def pick(x: MarkStr, y: MarkStr): MarkStr = if (later(x.m, y.m)) y else x
    WideSt(
      party = if (later(a.party.m, b.party.m)) b.party else a.party,
      payerIdType = pick(a.payerIdType, b.payerIdType),
      payeeIdType = pick(a.payeeIdType, b.payeeIdType),
      currency = pick(a.currency, b.currency),
      txnId = pick(a.txnId, b.txnId),
      payerDfsp = pick(a.payerDfsp, b.payerDfsp),
      payeeDfsp = pick(a.payeeDfsp, b.payeeDfsp),
      state = pick(a.state, b.state),
      cmpl = if (later(a.cmpl.m, b.cmpl.m)) b.cmpl else a.cmpl,
      payerFee = pick(a.payerFee, b.payerFee),
      payerFeeCur = pick(a.payerFeeCur, b.payerFeeCur),
      payerQuote = pick(a.payerQuote, b.payerQuote),
      payeeFee = pick(a.payeeFee, b.payeeFee),
      payeeFeeCur = pick(a.payeeFeeCur, b.payeeFeeCur),
      payeeQuote = pick(a.payeeQuote, b.payeeQuote),
      err = if (later(a.err.m, b.err.m)) b.err else a.err)
  }

  val wideFold: EntityFold[WideSt, WideRow] =
    EntityFold(EmptyWideSt, foldWide, mergeWide, (k, s) => Seq(renderWide(k, s)), k => "t" + (k % 10))

  /** Streaming wide-entity materialization — same oracle as the batch
    * imp_entity_wide (nested-JSON extraction semantics included).
    */
  def runWideToCompletion(spark: SparkSession, dir: String): DataFrame =
    runFold(spark, dir, wideFold, "stream_wide")
      .select("transfer_key", "payer_party_id", "payer_id_type",
        "payee_party_id", "payee_id_type", "amount", "currency",
        "transaction_id", "payer_dfsp_id", "payee_dfsp_id",
        "completed_ms", "transfer_state",
        "payer_fee", "payer_fee_currency", "payer_quote_code",
        "payee_fee", "payee_fee_currency", "payee_quote_code",
        "error_information", "status")
      .orderBy("transfer_key")

  // ------------------------------------------------------- Window agg

  /** Tumbling-window aggregation over event time — the third core
    * streaming shape next to the keyed folds and the dedup: per
    * (event_type, 1 h window), count + exact decimal sum, refreshed
    * per micro-batch in update mode and upserted by window key.
    *
    * Watermarked: state holds only windows younger than `horizon`, at
    * the documented cost of DROPPING rows that arrive later than it
    * (StreamingSpec pins exactly that semantics). Within the horizon
    * the result is exact under any micro-batch split.
    */
  def windowStream(events: DataFrame, horizon: String): DataFrame =
    events.select(col("event_type"),
      timestamp_millis(col("ts_ms")).as("ts"), col("value"))
      .withWatermark("ts", horizon)
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(graft.functions.Portable.dec2(col("value"))).as("sv"))

  /** Driver-checked streaming window aggregate — oracle = the batch
    * hour-bucket groupBy. The corpus is one file, so the AvailableNow
    * run folds it in one micro-batch under an unset watermark: no row
    * is late.
    */
  def runWindowToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      windowStream(events, FoldWatermark)
        .select(col("event_type"),
          expr("unix_millis(window.start) div 3600000").as("window_h"),
          col("n"),
          graft.functions.Portable.moneyStr(col("sv")).as("sum_value"))
        .withColumn("wkey", concat(col("event_type"), lit("_"), col("window_h")))
        .withColumn("tenant", col("event_type")),
      "wkey", label = "stream_window")
      .select("event_type", "window_h", "n", "sum_value")
      .orderBy("event_type", "window_h")

  // -------------------------------------------------- Streaming top-n

  /** One emitted leaderboard row. */
  case class TopRow(user_id: Long, rnk: Long, event_id: Long, event_type: String)

  /** Top-n accumulator: the current top-3 selection (a case class so
    * the shared product-encoder machinery covers it).
    */
  case class TopSt(entries: Seq[Rec])

  // dedup by event_id throughout: a re-delivered event (at-least-once
  // source) must not occupy two leaderboard ranks — within Spark's
  // exactly-once state replay this is a no-op, but the monoid stays
  // correct against duplicate delivery at the source
  private def topOf(rs: Seq[Rec]): Seq[Rec] = rs
    .groupBy(_.event_id).map(_._2.head).toSeq
    .sortBy(r => (-r.value, r.event_id)).take(3)

  private def stepTop(s: TopSt, r: Rec): TopSt = TopSt(topOf(s.entries :+ r))

  /** Bounded selection is a monoid: top-3 of a union = top-3 of merged
    * top-3s.
    */
  private def mergeTop(a: TopSt, b: TopSt): TopSt = TopSt(topOf(a.entries ++ b.entries))

  private def renderTop(user: Long, s: TopSt): Seq[TopRow] =
    s.entries.zipWithIndex.map { case (r, i) => TopRow(user, i + 1L, r.event_id, r.event_type) }

  /** Streaming per-key top-n in BOUNDED state: each user's running
    * top-3 events by value, held as an n-row selection in
    * `flatMapGroupsWithState` — the arbitrary-state shape for an
    * aggregate SQL streaming cannot express (per-key ORDER BY…LIMIT).
    * Bounded selection is a monoid (top-3 of a union = top-3 of
    * merged top-3s), so arrival order is irrelevant and the state per
    * key is exactly n rows forever. Each batch re-emits a touched
    * user's FULL current leaderboard as one [[SinkRow]], so the
    * merging sink replaces displaced entries instead of leaking them.
    * Answers the batch q_window_topn's SAME oracle.
    */
  val topnFold: EntityFold[TopSt, TopRow] =
    EntityFold(TopSt(Seq.empty), stepTop, mergeTop, renderTop, k => "t" + (k % 10))

  /** Driver-checked streaming leaderboard — oracle = the batch
    * per-user window top-3.
    */
  def runTopnToCompletion(spark: SparkSession, dir: String): DataFrame =
    runFold(spark, dir, topnFold, "stream_topn")
      .select("user_id", "rnk", "event_id", "event_type")
      .orderBy("user_id", "rnk")

  // ------------------------------------------------ Streaming sketch

  /** Streaming distinct counting in CONSTANT state: the HLL register
    * table maintained as a streaming aggregate. The state is exactly
    * groups × 256 register rows no matter how many billions of keys
    * stream through — where [[dedupStream]]'s state grows with the
    * distinct keys inside its horizon, this is the sketch answer to infinite-stream
    * cardinality. Update mode re-emits a register row only when its
    * max grows; the keyed sink upserts it. Same register derivation —
    * and the SAME oracle — as the batch
    * [[graft.operators.ApproxOps.sketchHll]]: register-wise max is
    * order-insensitive and idempotent, so any micro-batch split folds
    * to the identical table.
    */
  def hllStream(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    graft.operators.ApproxOps.hllRegisters(events)
  }

  /** Driver-checked streaming register table — oracle = the batch
    * sketch_hll SQL.
    */
  def runHllToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      hllStream(events)
        .withColumn("rkey", concat(col("event_type"), lit("_"), col("bucket")))
        .withColumn("tenant", col("event_type")),
      "rkey", label = "stream_hll")
      .select("event_type", "bucket", "max_rho")
      .orderBy("event_type", "bucket")

  /** Streaming count-min frequency sketch in CONSTANT state: the CMS
    * counter table maintained as a streaming SUM aggregate. The state
    * is exactly groups × depth × width counter rows no matter how many
    * billions of events stream through — the frequency companion to
    * [[hllStream]]'s distinct registers: after the stream has run,
    * ANY item's frequency is answerable in depth counter reads with
    * est ≥ true. Counter increments are commutative sums, so
    * micro-batch splits and arrival order are invisible; update mode
    * re-emits a counter row only when it grows and the keyed sink
    * upserts it. Same counter derivation — and the SAME oracle — as
    * the batch [[graft.operators.ApproxOps.sketchCms]].
    */
  def cmsStream(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    graft.operators.ApproxOps.cmsCounters(events)
  }

  /** Driver-checked streaming counter table — oracle = the batch
    * sketch_cms SQL.
    */
  def runCmsToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      cmsStream(events)
        .withColumn("ckey",
          concat_ws("_", col("event_type"), col("row_i"), col("col_i")))
        .withColumn("tenant", col("event_type")),
      "ckey", label = "stream_cms")
      .select("event_type", "row_i", "col_i", "cnt")
      .orderBy("event_type", "row_i", "col_i")

  /** Streaming quantile-histogram maintainer — the value-bin counter
    * table of [[graft.operators.ApproxOps.quantileHist]] as an
    * update-mode streaming SUM aggregate: state is one counter per
    * distinct (group, e2 value bin) — bounded by the VALUE DOMAIN,
    * not the stream length (for truly continuous data the same plan
    * with a coarser bin is the classic ε-histogram quantile), and
    * after any prefix of the stream every percentile is answerable
    * from the bins alone. Counter increments are commutative sums, so
    * micro-batch splits are invisible (the CMS argument). The READ
    * path (bins → percentiles) is the batch sketch's own
    * `quantileFromHist`, applied to the sink read-back — stream and
    * batch share one derivation and answer the SAME oracle
    * (q_percentiles' positional form, which the e2 binning reproduces
    * exactly on 2-decimal data).
    */
  def runQuantileToCompletion(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ApproxOps.quantileFromHist(
      runPipeline(spark, dir, events =>
        graft.operators.ApproxOps.quantileHist(events)
          .withColumn("qkey",
            concat_ws("_", col("event_type"), col("v").cast("string")))
          .withColumn("tenant", col("event_type")),
        "qkey", label = "stream_quantile")
        .select("event_type", "v", "cnt"))

  /** Streaming Bloom maintainer — the bitmap words of
    * [[graft.operators.BloomOps.bloomWords]] as an update-mode
    * streaming aggregate: word-wise `bit_or` is a commutative
    * idempotent monoid, so arrival order and micro-batch splits are
    * invisible and the state is CONSTANT (≤ groups × BloomWords rows,
    * forever) — the third member of the constant-state streaming
    * sketch family (max → HLL, sum → CMS, or → Bloom). The live
    * bitmap answers membership at any instant — the streaming side of
    * opt_bloom_join's runtime filter (ship today's live bitmap to
    * prune tomorrow's fact scan). Answers the batch sketch_bloom's
    * SAME oracle.
    */
  def bloomStream(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    graft.operators.BloomOps.bloomWords(events)
  }

  def runBloomToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      bloomStream(events)
        .withColumn("bkey", concat_ws("_", col("event_type"), col("word_idx")))
        .withColumn("tenant", col("event_type")),
      "bkey", label = "stream_bloom")
      .select("event_type", "word_idx", "bits")
      .orderBy("event_type", "word_idx")

  /** Streaming incremental passage dedup — the PRODUCTION shape of
    * [[graft.operators.TextOps.dedupSubstringInc]]: the day's document
    * arrivals STREAM in while the existing corpus's window-hash index
    * is a STATIC frame probed by a stream-static left join (in
    * production the index is yesterday's precomputed artifact; here it
    * materializes once via Scratch, so micro-batches probe parquet
    * instead of re-deriving the corpus per batch). Per-doc window
    * counts fold as an update-mode streaming aggregate — state is one
    * row per DELTA doc seen (the ingest batch bounds it; corpus size
    * never enters the state), and the corpus side never shuffles raw
    * rows, exactly the batch plan's contract. Answers the batch
    * dedup_substring_inc's SAME oracle.
    */
  def runSubstringIncToCompletion(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // the static probe side — in production yesterday's precomputed
    // index artifact, APPENDED after each accepted ingest via
    // TextOps.appendWindowIndex (merge ≡ recompute is spec-pinned)
    val corpusIdx = graft.Scratch.cp(graft.operators.TextOps.windowIndexOf(
      Tables.documents(spark, dir).filter(col("doc_id") % 10 =!= 7)))
    val stream = fileStream(spark, dir, "documents.parquet")
    val agg = graft.operators.TextOps.substringWindows(
        stream.filter(col("doc_id") % 10 === 7))
      .join(corpusIdx, Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_windows"),
        coalesce(sum("hit"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(max("hit"), lit(0L)).cast("long").as("is_dup"))
      .withColumn("dkey", col("doc_id").cast("string"))
      .withColumn("tenant", concat(lit("t"), col("doc_id") % 10))
    runStreamToSink(spark, s"stream_substring_inc@$dir", agg, "dkey")
      .select("doc_id", "n_windows", "n_dup_windows", "is_dup")
      .orderBy("doc_id")
  }

  /** Streaming incremental WINNOWED passage dedup — the production
    * shape of [[graft.operators.TextOps.dedupWinnowInc]], exactly as
    * stream_substring_inc is to dedup_substring_inc but probing the
    * winnowed fingerprint index (~40% the rows of the all-windows
    * index, same ≥ K+W−1-token pairwise bar). Arrivals STREAM in;
    * winnow selection is pure row-local arithmetic so it runs
    * unchanged on the streaming frame; the corpus's selected
    * fingerprints are a STATIC materialized index probed by a
    * stream-static left join; per-doc counts fold as update-mode
    * state (one row per DELTA doc — ingest-bounded, corpus size never
    * enters state). Answers the batch dedup_winnow_inc's SAME oracle.
    */
  def runWinnowIncToCompletion(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val corpusIdx = graft.Scratch.cp(
      graft.operators.TextOps.winnowFps(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 =!= 7))
        .select("fp").distinct().withColumn("hit", lit(1L)))
    val stream = fileStream(spark, dir, "documents.parquet")
    val agg = graft.operators.TextOps.winnowFps(
        stream.filter(col("doc_id") % 10 === 7))
      .join(corpusIdx, Seq("fp"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_fps"),
        coalesce(sum("hit"), lit(0L)).cast("long").as("n_dup_fps"),
        coalesce(max("hit"), lit(0L)).cast("long").as("is_dup"))
      .withColumn("dkey", col("doc_id").cast("string"))
      .withColumn("tenant", concat(lit("t"), col("doc_id") % 10))
    runStreamToSink(spark, s"stream_winnow_inc@$dir", agg, "dkey")
      .select("doc_id", "n_fps", "n_dup_fps", "is_dup")
      .orderBy("doc_id")
  }

  // ------------------------------------------------ Streaming packer

  /** Packer input row (shard geometry from TrainOps.packInput). */
  case class PackIn(doc_id: Long, tok: Long, shard: Long)
  /** Per-shard carry: tokens packed so far — ONE long per shard,
    * forever (state constant at PackShards rows regardless of corpus
    * size).
    */
  case class PackCum(cum: Long)
  /** One packed doc: its bin and offset, same columns as pipe_pack. */
  case class PackOut(doc_id: Long, shard: Long, tok: Long,
    tok_before: Long, bin: Long)

  /** Streaming sequence packing — [[graft.operators.TrainOps.pipePack]]
    * as the arrival-time fold it documents ("the streaming packer's
    * split rule"): docs stream in, the row-local shard/token
    * derivation is the SHARED [[graft.operators.TrainOps.packInput]],
    * and each shard's running token count is the only state (a single
    * long per shard — constant forever; the batch plan's
    * window-cumsum becomes a stateful carry). Each doc is emitted
    * exactly once with its (tok_before, bin) at the moment it packs.
    *
    * Ordering contract: packing is inherently order-DEPENDENT (it is
    * a prefix sum), so parity with the batch plan's doc_id-ordered
    * window requires arrivals in doc_id order per shard — the
    * contract a daily ingest of id-sorted shards meets; an
    * out-of-order feed needs the OutOfOrder-style buffer upstream.
    * Within a micro-batch the fold sorts its group (batch-bounded);
    * across batches the carry state preserves order by construction.
    * The chunked spec pins cross-batch carry == batch window exactly.
    */
  def packStream(docs: DataFrame): Dataset[PackOut] = {
    val s = docs.sparkSession
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    graft.operators.TrainOps.packInput(docs)
      .select("doc_id", "tok", "shard").as[PackIn]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[PackIn], state: GroupState[PackCum]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = rows.toArray.sortBy(_.doc_id).map { r =>
            val before = cum
            cum += r.tok
            PackOut(r.doc_id, shard, r.tok, before,
              before / graft.operators.TrainOps.PackBudget)
          }
          state.update(PackCum(cum))
          out.iterator
      }
  }

  /** Gate: stream the documents file through the packer; answers the
    * batch pipe_pack's SAME oracle (bin-for-bin).
    */
  def runPackToCompletion(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val stream = fileStream(spark, dir, "documents.parquet")
    val out = packStream(stream).toDF()
      .withColumn("dkey", col("doc_id").cast("string"))
      .withColumn("tenant", concat(lit("t"), col("shard")))
    runStreamToSink(spark, s"stream_pack@$dir", out, "dkey", mode = "append")
      .select("doc_id", "shard", "tok", "tok_before", "bin")
      .orderBy("doc_id")
  }

  /** Streaming incremental MINHASH near-dup — the production shape of
    * [[graft.operators.TextOps.dedupIncremental]], completing the
    * streaming arm for the third incremental detector family
    * (substring ✓, winnow ✓, minhash): the day's arrivals stream in,
    * banded minhash signatures derive row-locally ON the stream
    * (native graft_minhash codegen), and candidates come from a
    * stateless stream-static equi-join against the corpus's
    * materialized banded-signature index — the corpus never shuffles
    * raw rows. The (new, old) pair's band count folds as update-mode
    * state: one row per emitted candidate pair (candidate-bounded,
    * corpus size never enters state). Answers the batch
    * dedup_incremental's SAME oracle.
    */
  def runMinhashIncToCompletion(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val k = graft.operators.TextOps.MinhashK
    val corpusIdx = graft.Scratch.cp(
      graft.operators.TextOps.bandedOf(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 =!= 7), k, 2)
        .withColumnRenamed("doc_id", "old_id"))
    val stream = fileStream(spark, dir, "documents.parquet")
    val agg = graft.operators.TextOps.bandedOf(
        stream.filter(col("doc_id") % 10 === 7), k, 2)
      .join(corpusIdx, Seq("band_idx", "band_key"))
      .groupBy(col("doc_id").as("new_id"), col("old_id"))
      .agg(count(lit(1)).cast("long").as("n_bands"))
      .withColumn("pkey", concat_ws("_", col("new_id"), col("old_id")))
      .withColumn("tenant", concat(lit("t"), col("old_id") % 10))
    runStreamToSink(spark, s"stream_minhash_inc@$dir", agg, "pkey")
      .select("new_id", "old_id", "n_bands")
      .orderBy("new_id", "old_id")
  }

  /** Streaming KMV (bottom-k) distinct sketch in CONSTANT state — the
    * theta-sketch companion to [[hllStream]]: per group the state is
    * exactly the k smallest distinct hashes (≤ k longs, forever), so
    * intersections/differences stay answerable over an infinite
    * stream. Bottom-k is a monoid (bottom-k of a union = bottom-k of
    * merged bottom-ks — the property [[graft.operators.ApproxOps
    * .kmvMerge]]'s spec pins), so arrival order and micro-batch splits
    * are invisible; each batch re-emits the group's full sketch under
    * stable (group, rnk) keys, so a displaced rank upserts away.
    * Answers the batch sketch_kmv's SAME oracle.
    */
  case class KmvSt(hs: Seq[Long])

  def kmvStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    graft.functions.GraftFunctions.register(events.sparkSession)
    val k = graft.operators.ApproxOps.KmvK
    events.selectExpr("event_type", "graft_hash60(cast(user_id as string)) as h")
      .as[(String, Long)]
      // map-side partial sketch: the stateful exchange receives at most
      // k hashes per (group, input partition), never the raw hash
      // stream — bottom-k of a union = bottom-k of merged bottom-ks,
      // so a hot group's per-record work spreads across partitions
      // (the same skew bound as the entity folds' preFold)
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, java.util.TreeSet[java.lang.Long]]
        it.foreach { case (g, h) =>
          val set = m.getOrElseUpdate(g, new java.util.TreeSet[java.lang.Long]())
          set.add(h)
          if (set.size > k) set.pollLast()
        }
        m.iterator.flatMap { case (g, set) =>
          import scala.jdk.CollectionConverters._
          set.iterator().asScala.map(h => (g, h.longValue()))
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[KmvSt]) =>
          // capped distinct insert — the same per-partition pattern the
          // batch sketch uses; state stays ≤ k entries at every step
          val set = new java.util.TreeSet[java.lang.Long]()
          state.getOption.foreach(_.hs.foreach(set.add(_)))
          rows.foreach { case (_, h) =>
            set.add(h)
            if (set.size > k) set.pollLast()
          }
          val merged = {
            val b = Seq.newBuilder[Long]
            val it = set.iterator()
            while (it.hasNext) b += it.next()
            b.result()
          }
          state.update(KmvSt(merged))
          merged.iterator.zipWithIndex.map { case (h, i) => (key, (i + 1).toLong, h) }
      }.toDF("event_type", "rnk", "h")
  }

  /** Driver-checked streaming bottom-k sketch — oracle = the batch
    * sketch_kmv SQL.
    */
  def runKmvToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      kmvStream(events)
        .withColumn("kkey", concat(col("event_type"), lit("_"), col("rnk")))
        .withColumn("tenant", col("event_type")),
      "kkey", label = "stream_kmv")
      .select("event_type", "rnk", "h")
      .orderBy("event_type", "rnk")

  // ------------------------------------------------- Streaming ANN

  /** Bounded per-probe state: the current top-k as (score_e6, n_id)
    * pairs — ≤ [[graft.operators.VectorOps.StreamAnnK]] entries per
    * probe, forever.
    */
  case class AnnSt(top: Seq[(Long, Long)])

  /** Streaming similarity search — the retrieval-ingest production
    * shape: probe vectors STREAM in and search a STATIC LSH bucket
    * index of the existing corpus (the same delta split
    * stream_substring_inc uses, vectors instead of passages).
    * Quantization + bucket keys are row-local ON THE STREAM
    * ([[graft.operators.VectorOps.bucketKeysPlan]] — the identical
    * expressions the batch index build runs); candidates come from a
    * STATELESS stream-static join against the index; the per-probe
    * top-k folds as bounded update-mode state. Top-k over distinct
    * (score, n_id) pairs is a monoid (merge = union, cut to k): a
    * pair displaced from the top can never re-enter (scores are
    * pair-determined and fixed), band-duplicate candidates are
    * idempotent re-inserts, so micro-batch splits and arrival order
    * are invisible. Each batch re-emits the probe's full top list
    * under stable (q_id, rnk) keys — a displaced neighbor's rank is
    * simply overwritten at the sink.
    *
    * At 100 TB: the index is yesterday's artifact (here it
    * materializes once via Scratch); per micro-batch cost is
    * probes × bucket-mates, state is k pairs per probe seen — the
    * corpus never enters the state.
    */
  def annStream(probes: DataFrame, corpusIdx: DataFrame): DataFrame = {
    import probes.sparkSession.implicits._
    val k = graft.operators.VectorOps.StreamAnnK
    val cands = graft.operators.VectorOps.bucketKeysPlan(probes)
      .join(corpusIdx, Seq("band_idx", "bucket"))
      .select(col("vec_id").as("q_id"), col("n_id"),
        expr(graft.operators.VectorOps.streamAnnScore).as("score_e6"))
    cands.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (q: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[AnnSt]) =>
          // ordered by (score desc, n_id asc) via the (-score, n_id)
          // key; TreeMap keys are the distinct-pair set, so band
          // duplicates collapse
          val m = scala.collection.mutable.TreeSet.empty[(Long, Long)]
          state.getOption.foreach(_.top.foreach { case (s, n) => m.add((-s, n)) })
          rows.foreach { case (_, n, s) => m.add((-s, n)) }
          while (m.size > k) m.remove(m.max)
          val top = m.toSeq.map { case (ns, n) => (-ns, n) }
          state.update(AnnSt(top))
          top.iterator.zipWithIndex.map { case ((s, n), i) =>
            (q, (i + 1).toLong, n, s)
          }
      }.toDF("q_id", "rnk", "n_id", "score_e6")
  }

  /** Driver-checked streaming search — oracle = the LSH SQL
    * restricted to (probe, corpus): [[graft.operators.VectorOps
    * .streamAnnSql]].
    */
  def runAnnToCompletion(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    val corpusIdx = graft.Scratch.cp(
      VectorOps.bucketKeysPlan(VectorOps.quantizePlan(
          // fan out before the row-local quantize (§2.5 input skew)
          Tables.spread(Tables.embeddings(spark, dir), "vec_id")
            .filter(col("vec_id") % 10 =!= 7)))
        .select(col("vec_id").as("n_id"), col("q").as("nq"), col("n2").as("nn2"),
          col("band_idx"), col("bucket")))
    val stream = fileStream(spark, dir, "embeddings.parquet")
    val probes = VectorOps.quantizePlan(stream.filter(col("vec_id") % 10 === 7))
    val out = annStream(probes, corpusIdx)
      .withColumn("akey", concat_ws("_", col("q_id"), col("rnk")))
      // tenant MUST be a stable function of the upsert key (q_id is;
      // n_id would migrate a displaced rank across tenant tables)
      .withColumn("tenant", concat(lit("t"), col("q_id") % 10))
    runStreamToSink(spark, s"stream_ann@$dir", out, "akey")
      .select("q_id", "rnk", "n_id", "score_e6")
      .orderBy("q_id", "rnk")
  }

  // ------------------------------------------------- Session windows

  /** Native `session_window` sessionization — the streaming
    * counterpart of the batch lag+cumsum q_sessionize: per user,
    * events within a 30-minute gap merge into one session whose
    * window GROWS as events arrive; state is evicted once the
    * watermark passes a session's close. Boundary semantics (verified
    * empirically on Spark 4.1.2): an event at EXACTLY gap distance
    * still MERGES into the session — the engine's merge test is
    * inclusive — so the oracle breaks only on `diff > gap`, the same
    * rule as the batch q_sessionize.
    *
    * Session keys: `window.start` equals the session's FIRST event
    * time, so when events arrive in event-time order a session only
    * ever extends under a stable (user, start) key — the upsert-key
    * contract the chunked spec pins. Out-of-order arrivals can MERGE
    * sessions (the merged session's start moves earlier); exact
    * replay then needs the sink to retract the absorbed keys — the
    * reference's importer has the same read-modify-write there, and
    * the gate run (AvailableNow, one batch) is unaffected.
    */
  def sessionizeStream(events: DataFrame): DataFrame =
    events.select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).cast(LongType).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        (unix_millis(col("session_window.end")) - lit(30L * 60 * 1000)).as("session_last_ms"),
        col("n_events"))

  /** Driver-checked session windows — oracle = the batch gap-break
    * sessionization with the session_window boundary rule.
    */
  def runSessionizeToCompletion(spark: SparkSession, dir: String): DataFrame =
    // session windows support append/complete only (update would emit
    // partial sessions under moving keys). Append holds back sessions
    // younger than watermark − gap at stream end, so the driver-checked
    // run uses COMPLETE (+ keyed upsert = idempotent): every session is
    // emitted, exact vs the batch oracle. Production tails use APPEND
    // with the watermark as the closing grace period — spec-pinned
    // (StreamingSpec "APPEND mode"): each closed session emits exactly
    // once, matches the batch sessionization, and its state evicts.
    runPipeline(spark, dir, events =>
      sessionizeStream(events)
        .withColumn("sess_key", concat(col("user_id"), lit("_"), col("session_start_ms")))
        .withColumn("tenant", concat(lit("t"), col("user_id") % 10)),
      "sess_key", mode = "complete", label = "stream_sessionize")
      .select("user_id", "session_start_ms", "session_last_ms", "n_events")
      .orderBy("user_id", "session_start_ms")

  // ------------------------------------------------------ Stream join

  /** Event-time stream-stream join — clicks matched to the same
    * user's purchases within the following hour. Both sides carry
    * watermarks and the join condition carries the event-time range,
    * which is what lets Spark EVICT state (a click older than
    * watermark − 1 h can never match again).
    *
    *   - `"inner"`: each match emits as soon as both sides are seen, so
    *     results are exact under any micro-batch split — cross-batch
    *     matches come out of the buffered state, pinned by the chunked
    *     StreamingSpec run;
    *   - `"left_outer"`: the matches plus the unmatched clicks (NO
    *     purchase within the following hour), which the ops-UI
    *     correlation read also needs. A null-extended row emits only
    *     when the WATERMARK closes its click's match window
    *     (c_ts + 1 h), i.e. the click provably can never match — state
    *     stays bounded exactly as in the inner join.
    */
  def joinStream(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        timestamp_millis(col("ts_ms")).as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        timestamp_millis(col("ts_ms")).as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** Driver-checked left-outer stream join. Determinism at stream end:
    * a null-extended row only exists once the watermark passed its
    * click's match window, and the final watermark is data-dependent —
    * so the checked projection keeps every MATCHED row (those emit
    * eagerly, unconditionally) but an UNMATCHED row only for clicks
    * whose window is closed with a full watermark-delay margin to
    * spare. The reference point must be the MIN of the two sides'
    * own maxima, NOT the corpus max: the global watermark is
    * min(max c_ts, max p_ts) − 1 h (each withWatermark column
    * advances on its own events), so a purchase tail that lags the
    * corpus max by more than the margin would leave a corpus-max-based
    * "closed" region not actually closed (caught at sf0.001: the last
    * purchase trailed the last click by >1 h and one oracle row never
    * emitted). Cut: c_ts ≤ min(max c_ts, max p_ts) − 3 h ⇒ window end
    * ≤ wm-basis − 2 h < final watermark = wm-basis − 1 h. The oracle
    * applies the same min-based cut, so both sides enumerate exactly
    * the provably-closed region. Unmatched purchase_id renders as −1
    * (engine-portable; no NULL hashing asymmetry in the compare).
    */
  def runJoinOuterToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir).agg(
      max(when(col("event_type") === "click", col("ts_ms"))),
      max(when(col("event_type") === "purchase", col("ts_ms")))).head()
    val cutoff = math.min(m.getLong(0), m.getLong(1)) - 3L * 3600 * 1000
    runPipeline(spark, dir, events =>
      joinStream(events, "left_outer")
        .select(col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          col("user_id"), unix_millis(col("c_ts")).as("c_ts_ms"))
        .withColumn("pair_key", concat(col("click_id"), lit("_"), col("purchase_id")))
        .withColumn("tenant", concat(lit("t"), col("user_id") % 10)),
      "pair_key", mode = "append", label = "stream_join_outer")
      .where(col("purchase_id") =!= -1L || col("c_ts_ms") <= cutoff)
      .select("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id")
  }

  /** Driver-checked stream-stream join — oracle = the batch interval
    * self-join.
    */
  def runJoinToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      joinStream(events, "inner")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .withColumn("pair_key", concat(col("click_id"), lit("_"), col("purchase_id")))
        .withColumn("tenant", concat(lit("t"), col("user_id") % 10)),
      "pair_key", mode = "append", label = "stream_join")
      .select("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id")

  // ------------------------------------------------------------ Dedup

  /** Streaming dedup on (user_id, event_type) — the streaming mirror
    * of the reference's first-write dedup guards
    * (RecordParser.processVariable/processTask): emit each key once,
    * drop every later duplicate, with a watermark + per-key expiry
    * (`dropDuplicatesWithinWatermark`). State holds only keys younger
    * than `horizon`, at the cost of re-emitting a key whose duplicates
    * straddle an expired horizon; the keyed idempotent sink absorbs the
    * re-emission (upsert onto the existing row), restoring exact
    * end-to-end semantics. StreamingSpec pins both halves (re-emission
    * happens; the sink collapses it).
    */
  def dedupStream(events: DataFrame, horizon: String): DataFrame =
    events.select(col("user_id"), col("event_type"),
      timestamp_millis(col("ts_ms")).as("ts"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

  /** Driver-checked out-of-order association routing — the reference's
    * TempDocumentStore buffer (NatsConsumer.java:56-70) run end-to-end
    * over the corpus and answered by a batch association join: every
    * record must exit [[OutOfOrder.routed]] exactly once, carrying the
    * process association its user's signup record establishes —
    * records that arrived BEFORE the signup prove the buffer-and-flush
    * path, records after it prove the direct route, and none may be
    * lost, duplicated, or dead-lettered.
    *
    * Determinism argument (why a streaming buffer with timeouts can
    * answer a batch oracle): the corpus is ONE parquet file, so the
    * file source delivers it as a single micro-batch; the watermark
    * during that batch is still unset, so no record is late and no
    * idle-horizon timeout can fire mid-data. Every user in the corpus
    * carries a signup (the same invariant import_loop's gate rests
    * on, asserted with the per-user buffer bound in StreamingSpec), so
    * after the data batch no orphan buffer remains — and any
    * trailing no-data batch can only time out ASSOCIATED keys, which
    * hold nothing to flush. The oracle's dead-letter branch is
    * therefore reachable only if the corpus invariant breaks, which
    * fails the gate loudly rather than silently.
    */
  def runOutOfOrderToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      OutOfOrder.routed(events).toDF()
        .withColumn("tenant", concat(lit("t"), col("user_id") % 10)),
      "event_id", mode = "append", label = "src_out_of_order")
      .select(col("event_id"), col("ts_ms"), col("user_id"),
        col("event_type"),
        graft.functions.Portable.moneyStr(
          graft.functions.Portable.dec2(col("value"))).as("value_str"),
        col("k"), col("process_id"))
      .orderBy("event_id")

  private[graft] val srcOutOfOrderSql: String =
    """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
      |  CAST(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,2)) AS VARCHAR) AS value_str,
      |  COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k,
      |  CASE WHEN user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')
      |       THEN 'proc-t' || CAST(user_id % 10 AS VARCHAR)
      |       ELSE '__dead_letter__' END AS process_id
      |FROM events ORDER BY event_id""".stripMargin

  /** Driver-checked streaming dedup — oracle = batch SELECT DISTINCT.
    * One file, one AvailableNow micro-batch: no row is late and no key
    * expires mid-data.
    */
  def runDedupToCompletion(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, events =>
      dedupStream(events, FoldWatermark)
        .withColumn("dedup_key", concat(col("user_id"), lit("_"), col("event_type")))
        .withColumn("tenant", concat(lit("t"), col("user_id") % 10)),
      "dedup_key", mode = "append", label = "stream_dedup")
      .select("user_id", "event_type")
      .orderBy("user_id", "event_type")

  // --------------------------------------------------------- plumbing

  /** MEASURED state-store footprint of a streaming query, one stderr
    * line per query: per state operator, the max-over-batches state
    * row count and state memory from StreamingQueryProgress (RocksDB
    * reports its native memory there). This is what turns the
    * "constant state" design claims (stream_hll: groups × 256
    * registers; stream_kmv: ≤ k longs per group; bounded folds:
    * O(keys within horizon)) into numbers the plan review can cite —
    * and what a production deployment would ship to its metrics
    * system per trigger.
    *
    * Maxima accumulate through a [[StreamingQueryListener]] over the
    * query's WHOLE lifetime — `q.recentProgress` is a ring buffer
    * capped by `spark.sql.streaming.numRecentProgressUpdates`
    * (default 100), so a long run read back through it would silently
    * under-report the peak.
    */
  private class StateMetricsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // (queryId, opIndex) -> (opName, maxRows, maxMemBytes)
    private val maxima =
      scala.collection.concurrent.TrieMap.empty[(java.util.UUID, Int), (String, Long, Long)]
    // queryId -> highest batchId seen: micro-batch COUNT is the other
    // run-to-run variance carrier besides state size — the r18 5-rep
    // sf10 probe saw same-JVM import_loop reps flap 67.6↔152.8 s with
    // byte-identical state maxima, clean env stamps and no GC term, so
    // the per-rep batch count must be in the log line to attribute a
    // flap to admission variance (more batches) vs per-batch cost
    private val lastBatch =
      scala.collection.concurrent.TrieMap.empty[java.util.UUID, Long]
    // CAS max-merge: progress events deliver on the async listener bus
    // while log() merges recentProgress on the caller thread, so a
    // plain get-then-put could let a stale read overwrite a higher
    // batchId (r18 review finding)
    @annotation.tailrec
    private def bumpBatch(id: java.util.UUID, b: Long): Unit =
      lastBatch.putIfAbsent(id, b) match {
        case None => ()
        case Some(old) if old >= b => ()
        case Some(old) =>
          if (!lastBatch.replace(id, old, b)) bumpBatch(id, b)
      }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      bumpBatch(e.progress.id, e.progress.batchId)
      e.progress.stateOperators.iterator.zipWithIndex.foreach { case (op, i) =>
        val k = (e.progress.id, i)
        val prev = maxima.getOrElse(k, (op.operatorName, 0L, 0L))
        maxima.put(k, (op.operatorName,
          math.max(prev._2, op.numRowsTotal),
          math.max(prev._3, op.memoryUsedBytes)))
      }
    }
    /** Listener events deliver on an async bus thread, so the LAST
      * batch's event may not have landed when the query terminates —
      * merge the query's own recentProgress (synchronously updated,
      * but ring-buffer-capped) over the listener's full history
      * instead of sleeping.
      */
    def log(q: org.apache.spark.sql.streaming.StreamingQuery, label: String): Unit =
      try {
        q.recentProgress.iterator.foreach { p =>
          bumpBatch(q.id, p.batchId)
          p.stateOperators.iterator.zipWithIndex.foreach { case (op, i) =>
            val k = (q.id, i)
            val prev = maxima.getOrElse(k, (op.operatorName, 0L, 0L))
            maxima.put(k, (op.operatorName,
              math.max(prev._2, op.numRowsTotal),
              math.max(prev._3, op.memoryUsedBytes)))
          }
        }
        val ops = maxima.toSeq.collect { case ((id, i), v) if id == q.id => (i, v) }
        if (ops.nonEmpty) {
          val line = ops.sortBy(_._1).map { case (i, (name, rows, mem)) =>
            s"$name[$i] maxRows=$rows maxMem=${mem}B"
          }.mkString("; ")
          val nb = lastBatch.get(q.id).map(b => s" batches=${b + 1}").getOrElse("")
          System.err.println(s"[graft-state] $label: $line$nb")
        }
        // per-phase engine seconds summed over the drained batches
        // (durationMs from StreamingQueryProgress) — the r18
        // optimization round's attribution line: a slow stream row
        // splits into planning / offset-log / state-op execution /
        // sink (foreachBatch) without a re-run. recentProgress holds
        // every AvailableNow batch at gate scale (ring cap 100).
        val phases = scala.collection.mutable.Map.empty[String, Long]
        q.recentProgress.iterator.foreach { p =>
          p.durationMs.forEach((k, v) => phases(k) = phases.getOrElse(k, 0L) + v)
        }
        // recentProgress is a ring buffer (spark.sql.streaming.
        // numRecentProgressUpdates, default 100): a run past the cap
        // silently under-reports phase seconds — stamp the truncation
        // so a phase sum is never mistaken for the whole run (r18
        // ADVICE)
        val trunc =
          if (q.recentProgress.length >= 100) " (TRUNCATED: ring cap hit)" else ""
        if (phases.nonEmpty) System.err.println(s"[graft-phase] $label: " +
          phases.toSeq.sortBy(-_._2).map { case (k, v) => f"$k=${v / 1000.0}%.2fs" }
            .mkString(" ") + trunc)
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Shared sink-run-readback-cleanup plumbing for the AvailableNow
    * runners: run `frame` (an already-composed streaming frame) into
    * the tenant-routed upsert sink under a fresh temp work dir, read
    * the sink back (Scratch-materialized, so the result detaches from
    * the temp files — a lazy plan over deleted parquet would fail at
    * consume time), and reclaim the work dir in a `finally` so a
    * failed query can't leak it. The metrics listener is removed in
    * the same way, also when the query fails to start.
    */
  private[graft] def runStreamToSink(spark: SparkSession, label: String,
      frame: DataFrame, key: String, mode: String = "update",
      merge: Option[(DataFrame, DataFrame) => DataFrame] = None): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft_stream_").toString
    val metrics = new StateMetricsListener
    try {
      val sinkDir = s"$work/sink"
      spark.streams.addListener(metrics)
      // sink seconds accumulate separately: addBatch = state-op
      // execution ∪ the per-batch parquet upsert, and optimizing the
      // right half needs the split in every stream row's log line
      val sinkSec = new java.util.concurrent.atomic.DoubleAdder
      val q = frame
        .writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$work/chk")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val s0 = System.nanoTime()
          TenantUpsertSink.upsert(sinkDir, batch, key, merge)
          sinkSec.add((System.nanoTime() - s0) / 1e9)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      metrics.log(q, label)
      System.err.println(f"[graft-sink] $label: sink=${sinkSec.sum}%.2fs")
      graft.Scratch.cp(TenantUpsertSink.readCurrent(spark, sinkDir)
        .getOrElse(throw new IllegalStateException(s"no data reached the sink at $sinkDir")))
    } finally {
      spark.streams.removeListener(metrics)
      graft.LocalFs.rmTree(new java.io.File(work))
    }
  }

  /** One parquet file of the sf dir as a stream, under the schema the
    * batch reader sees: the streaming file source wants a directory, so
    * it streams `dir` with a glob pinned to `file`.
    */
  private def fileStream(spark: SparkSession, dir: String, file: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(s"$dir/$file").schema)
      .option("pathGlobFilter", file).parquet(dir)

  /** Shared end-to-end runner: stream the sf dir's events file through
    * `transform` with an AvailableNow trigger into the tenant-routed
    * upsert sink, then read the sink back.
    */
  private def runPipeline(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, key: String,
      mode: String = "update",
      merge: Option[(DataFrame, DataFrame) => DataFrame] = None,
      label: String = "stream"): DataFrame = {
    // Raw file schema (ts arrives as TIMESTAMP(NANOS)-as-long under
    // the legacy conf OR as a native timestamp, depending on corpus
    // generation); normalization then comes from the SAME
    // type-adaptive helper the batch loader uses.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stream = Tables.normalizeEvents(fileStream(spark, dir, "events.parquet"))
    runStreamToSink(spark, s"$label@$dir", transform(stream), key, mode, merge)
  }

  /** Default watermark delay of [[importLoop]]'s fold: the disorder the
    * loop tolerates. A record more than this behind the newest event
    * time the stream has seen is late and dropped, and an idle key is
    * evicted this long plus the horizon after its newest record.
    */
  val ComposedWatermark = "2 hours"

  /** The reference's FULL import loop as ONE streaming query with ONE
    * stateful operator (NatsConsumer.listen → TempDocumentStore
    * buffering → RecordParser → InflightTransferManager → JPA save,
    * NatsConsumer.java:39-106): raw JSON strings (the graft-queue
    * subject or any value-string stream) → one `from_json` parse →
    * map-side pre-fold → the bounded entity fold gated on the
    * instance's association ([[loopUpdate]]) → [[SinkRow]]s for the
    * incarnation-merging sink.
    *
    * The reference holds records back until their association arrives
    * and then folds them; here they fold on arrival and the
    * association only gates emission, so no record is buffered raw and
    * the fold's watermark bounds the loop's whole state. The operator
    * runs in Append mode, so the query runs with `outputMode("append")`;
    * its per-key cumulative SinkRows are absorbed by the merging sink.
    */
  def importLoop(raw: DataFrame, watermark: String = ComposedWatermark,
      horizonMs: Long = EvictHorizonMs): DataFrame =
    importLoopWith(raw, transferFold, watermark, horizonMs)

  /** [[importLoop]] for ANY entity fold — the reference consumer
    * materializes every entity (Transfer, TransactionRequest, Batch)
    * from the one listen loop, so the composition is fold-generic.
    */
  def importLoopWith[S <: Product : TypeTag, O <: Product : TypeTag](
      raw: DataFrame, spec: EntityFold[S, O],
      watermark: String = ComposedWatermark,
      horizonMs: Long = EvictHorizonMs): DataFrame = {
    val events = raw
      .select(from_json(col("value"), Encoders.product[Rec].schema).as("r"))
      .select("r.*")
    implicit val stEnc: Encoder[LoopSt[S]] = Encoders.product[LoopSt[S]]
    implicit val outEnc: Encoder[SinkRow[O, S]] = Encoders.product[SinkRow[O, S]]
    val gated = associating(spec)
    boundedFold(partials(events, gated), watermark, OutputMode.Append)(
      loopUpdate(gated, horizonMs))
  }

  /** Driver-checked transfers run — oracle-identical to the batch
    * imp_entity_transfers.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame =
    runFold(spark, dir, transferFold, "stream_import")
      .select("transfer_key", "tenant", "started_ms", "completed_ms",
        "amount", "last_click_value", "status", "n_events")
      .orderBy("transfer_key")

  /** Publish `msgs` onto a graft-queue subject in BOUNDED chunks:
    * toLocalIterator holds one partition's rows on the driver at a time
    * (order preserved — a range-partitioned orderBy is the iteration
    * order), so the driver footprint is one partition, not the corpus.
    */
  private def publishChunked(subject: String, msgs: Dataset[String]): Unit = {
    import scala.jdk.CollectionConverters._
    msgs.toLocalIterator().asScala.grouped(65536)
      .foreach(chunk => graft.sources.QueueHub.publish(subject, chunk))
  }

  /** Gate entry for the SOURCE surface itself (`src_queue` — promoted
    * from spec-only in round 15, r14 verdict item 8): the corpus's raw
    * export JSON published onto a graft-queue subject in bounded
    * chunks, streamed back through the DSv2 micro-batch
    * source, and parsed by the SAME [[graft.sources.RawIngest.parse]]
    * projection the batch path uses — answering the batch
    * imp_raw_ingest oracle, so subject offsets, micro-batching, and
    * the parse pipeline are hash-pinned end-to-end, not just
    * spec-compared. Reference: the NATS subject feed NatsConsumer
    * listens on (NatsConsumer.java:39-47).
    */
  def runSrcQueueToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val subject = s"zeebe-export-src-${System.nanoTime()}"
    val work = java.nio.file.Files.createTempDirectory("graft_srcq_").toString
    val result = try {
      publishChunked(subject,
        graft.sources.RawIngest.rawRecords(spark, dir).as[String](Encoders.STRING))
      val stream = spark.readStream.format("graft-queue")
        .option("subject", subject).load()
      val parsed = graft.sources.RawIngest.parse(stream)
      val sinkDir = s"$work/sink"
      val q = parsed.writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/chk")
        .format("parquet").option("path", sinkDir)
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      // eager cp before the temp dir is removed (both scratch backends
      // materialize on the spot)
      graft.Scratch.cp(spark.read.schema(parsed.schema).parquet(sinkDir))
    } finally {
      graft.sources.QueueHub.clear(subject)
      graft.LocalFs.rmTree(new java.io.File(work))
    }
    result.orderBy("record_id")
  }

  /** Gate entry for the COMPOSED loop — the reference consumer
    * end-to-end (NatsConsumer.listen:39-106): the corpus's events
    * rendered as raw JSON strings onto a graft-queue subject (the
    * shape the NATS listener receives), then ONE [[importLoop]] query
    * — DSv2 queue source → from_json → map-side pre-fold →
    * association-gated bounded transfer fold → incarnation-merging
    * sink — and the sink read back. Answers the SAME oracle as the
    * batch imp_entity_transfers: every user in the corpus carries a
    * signup association (verified at every sf), and the whole backlog
    * lands in the first micro-batch so nothing is watermark-late.
    */
  def runImportLoopToCompletion(spark: SparkSession, dir: String): DataFrame = {
    val subject = s"zeebe-export-gate-${System.nanoTime()}"
    try {
      publishChunked(subject, toRecs(Tables.events(spark, dir))
        .orderBy("ts_ms", "event_id")
        .select(to_json(struct(col("event_id"), col("ts_ms"), col("user_id"),
          col("event_type"), col("value"), col("k"))))
        .as[String](Encoders.STRING))
      val stream = spark.readStream.format("graft-queue").option("subject", subject).load()
      runStreamToSink(spark, s"import_loop@$dir", importLoop(stream), "entity_key",
          mode = "append", merge = Some(foldMerge(transferFold)))
        .select(explode(col("rows")).as("r")).select("r.*")
        .select("transfer_key", "tenant", "started_ms", "completed_ms",
          "amount", "last_click_value", "status", "n_events")
        .orderBy("transfer_key")
    } finally graft.sources.QueueHub.clear(subject)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_import" -> (runToCompletion _),
    "import_loop" -> (runImportLoopToCompletion _),
    "src_queue" -> (runSrcQueueToCompletion _),
    "stream_txnreq" -> (runTxnreqToCompletion _),
    "stream_batches" -> (runBatchesToCompletion _),
    "stream_wide" -> (runWideToCompletion _),
    "stream_dedup" -> (runDedupToCompletion _),
    "stream_window" -> (runWindowToCompletion _),
    "stream_join" -> (runJoinToCompletion _),
    "stream_join_outer" -> (runJoinOuterToCompletion _),
    "stream_hll" -> (runHllToCompletion _),
    "stream_cms" -> (runCmsToCompletion _),
    "stream_bloom" -> (runBloomToCompletion _),
    "stream_quantile" -> (runQuantileToCompletion _),
    "stream_substring_inc" -> (runSubstringIncToCompletion _),
    "stream_winnow_inc" -> (runWinnowIncToCompletion _),
    "stream_minhash_inc" -> (runMinhashIncToCompletion _),
    "stream_kmv" -> (runKmvToCompletion _),
    "stream_pack" -> (runPackToCompletion _),
    "stream_ann" -> (runAnnToCompletion _),
    "src_out_of_order" -> (runOutOfOrderToCompletion _),
    "stream_topn" -> (runTopnToCompletion _),
    "stream_sessionize" -> (runSessionizeToCompletion _))

  /** Streaming paths answer the SAME oracles as the batch entities. */
  def oracles: Map[String, String] = Map(
    "stream_import" -> graft.operators.ImporterCore.impEntityTransfersSql,
    // the composed loop materializes the same transfers entity — the
    // reference's whole consumer answers the batch entity oracle
    "import_loop" -> graft.operators.ImporterCore.impEntityTransfersSql,
    // the source surface answers the batch parse oracle: what leaves
    // the subject equals what the batch path extracts
    "src_queue" -> graft.sources.RawIngest.impRawIngestSql,
    "stream_txnreq" -> graft.operators.ImporterCore.impEntityTxnreqSql,
    "stream_batches" -> graft.operators.ImporterCore.impEntityBatchesSql,
    "stream_wide" -> graft.operators.ImporterCore.impEntityWideSql,
    "stream_dedup" ->
      """SELECT user_id, event_type FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_window" ->
      """SELECT event_type, epoch_ms(ts) // 3600000 AS window_h,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_ms(p.ts) BETWEEN epoch_ms(c.ts) AND epoch_ms(c.ts) + 3600000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_join_outer" ->
      """WITH mx AS (SELECT LEAST(
        |    MAX(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END),
        |    MAX(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)) AS m
        |  FROM events)
        |SELECT c.event_id AS click_id,
        |  COALESCE(p.event_id, -1) AS purchase_id, c.user_id
        |FROM events c LEFT JOIN events p ON c.user_id = p.user_id
        | AND p.event_type = 'purchase'
        | AND epoch_ms(p.ts) BETWEEN epoch_ms(c.ts) AND epoch_ms(c.ts) + 3600000
        |WHERE c.event_type = 'click'
        | AND (p.event_id IS NOT NULL
        |      OR epoch_ms(c.ts) <= (SELECT m FROM mx) - 10800000)
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_hll" -> graft.operators.ApproxOps.sketchHllSql,
    "stream_cms" -> graft.operators.ApproxOps.sketchCmsSql,
    "stream_bloom" -> graft.operators.BloomOps.sketchBloomSql,
    "stream_quantile" -> graft.operators.Analytics.qPercentilesSql,
    // the streaming delta answers the batch incremental detector's oracle
    "stream_substring_inc" -> graft.operators.TextOps.dedupSubstringIncSql,
    "stream_winnow_inc" -> graft.operators.TextOps.dedupWinnowIncSql,
    "stream_minhash_inc" -> graft.operators.TextOps.dedupIncrementalSql,
    "stream_kmv" -> graft.operators.ApproxOps.sketchKmvSql,
    // the streaming packer answers the batch pipe_pack's oracle
    "stream_pack" -> graft.operators.TrainOps.pipePackSql,
    // streamed probes against the static bucket index answer the LSH
    // oracle restricted to (probe, corpus)
    "stream_ann" -> graft.operators.VectorOps.streamAnnSql,
    // the routed stream answers the batch association join — the
    // TempDocumentStore contract as SQL (see runOutOfOrderToCompletion)
    "src_out_of_order" -> srcOutOfOrderSql,
    "stream_topn" -> graft.operators.Analytics.qWindowTopNSql,
    "stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts) AS ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ms,
        |    CAST(SUM(CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms, user_id) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id, MIN(ms) AS session_start_ms, MAX(ms) AS session_last_ms,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin)
}
