package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Out-of-order association buffering — the reference's
  * TempDocumentStore (NatsConsumer.java:56-70): records whose
  * bpmnProcessId is not yet known are buffered until a sibling record
  * delivers the workflowKey → bpmnProcessId association, then flushed
  * with the association applied. This is the `src_out_of_order`
  * operator: it routes whole records. The import loop does not run it
  * — [[StreamImport.importLoop]] folds records before their signup
  * into the entity and gates only the emission on the association, so
  * [[MaxBuffer]] does not apply there; it shares this object's
  * association rule ([[associates]]) and [[AssocHorizonMs]].
  *
  * Model on the events stream: the `signup` record carries the
  * instance's process association (process id derived from the
  * instance, as imp_tenant_split derives tenants); every other record
  * of that instance must be emitted WITH the association. Records
  * arriving before their signup buffer in state; an event-time
  * watermark timeout bounds state for instances whose association
  * never arrives (flushed to a dead-letter marker — the reference
  * leaks these in TempDocumentStore; bounding is the 100 TB fix).
  *
  * State bound: two-tier idle horizon. UNASSOCIATED keys (the
  * reference's leak source — orphan buffers) expire after
  * [[OrphanHorizonMs]] and flush to dead-letter. ASSOCIATED keys hold
  * only a constant-size association, so they get the much longer
  * [[AssocHorizonMs]] before being dropped — state stays
  * O(instances active within a day), while a sparse-but-alive
  * instance (idle hours between records) keeps routing correctly
  * instead of being silently dead-lettered. Records arriving after
  * even the long horizon re-buffer and eventually dead-letter —
  * bounded beats the reference's keep-forever TempDocumentStore.
  */
object OutOfOrder {

  case class Assoc(user_id: Long, process_id: String)

  case class BufferSt(assoc: Option[String],
    buffered: List[StreamImport.Rec], maxTs: Long)

  /** A routed record: the FULL original record plus its resolved
    * process association — what the reference's TempDocumentStore
    * flush re-processes (whole buffered documents, not ids), so a
    * downstream entity fold can consume the routed stream directly.
    */
  case class Routed(event_id: Long, ts_ms: Long, user_id: Long,
    event_type: String, value: Double, k: Long, process_id: String)

  private def route(r: StreamImport.Rec, pid: String): Routed =
    Routed(r.event_id, r.ts_ms, r.user_id, r.event_type, r.value, r.k, pid)

  val DeadLetter = "__dead_letter__"

  /** Per-key orphan buffer cap; overflow spills to dead-letter. */
  val MaxBuffer = 1000

  /** Idle horizon for keys still awaiting their association: these
    * hold a growing buffer, so they expire fast.
    */
  val OrphanHorizonMs: Long = 60L * 60 * 1000

  /** Idle horizon for keys whose association arrived: constant-size
    * state, so retention is cheap — expire only after a day idle.
    */
  val AssocHorizonMs: Long = 24L * 60 * 60 * 1000

  /** Association payload a signup record carries. */
  def assocOf(userId: Long): String = s"proc-t${userId % 10}"

  /** Whether a record delivers its instance's association. */
  def associates(r: StreamImport.Rec): Boolean = r.event_type == "signup"

  def update(key: Long, recs: Iterator[StreamImport.Rec],
      state: GroupState[BufferSt]): Iterator[Routed] = {
    if (state.hasTimedOut) {
      // idle past the key's horizon: drop ALL state — retained state
      // is O(instances active within their horizon), not O(instances
      // ever seen). A record arriving after the drop re-buffers
      // awaiting a fresh association and dead-letters at the next
      // horizon; the trade is explicit (keeping associations forever
      // is the reference's TempDocumentStore leak, the thing this
      // timeout exists to fix), and the long associated-key horizon
      // makes it rare. Un-associated buffers flush to the dead-letter
      // route on the way out.
      val st = state.getOption.getOrElse(BufferSt(None, Nil, 0L))
      state.remove()
      return st.buffered.reverseIterator.map(route(_, DeadLetter))
    }
    val st0 = state.getOption.getOrElse(BufferSt(None, Nil, 0L))
    val out = Seq.newBuilder[Routed]
    var st = st0
    recs.foreach { r =>
      st = st.copy(maxTs = math.max(st.maxTs, r.ts_ms))
      if (associates(r) && st.assoc.isEmpty) {
        val a = assocOf(key)
        // association arrived: flush the buffer in arrival order, and
        // the association-carrying record itself routes too (the
        // reference processes PROCESS_INSTANCE records into the
        // entity's lifecycle — startedAt — not just the association)
        st.buffered.reverse.foreach(b => out += route(b, a))
        st = st.copy(assoc = Some(a), buffered = Nil)
        out += route(r, a)
      } else st.assoc match {
        case Some(a) => out += route(r, a)
        case None =>
          st = st.copy(buffered = r :: st.buffered)
          // an ACTIVELY-written orphan pushes its idle horizon forward
          // forever, so the timeout alone cannot bound its buffer —
          // overflow the oldest entries to dead-letter at the cap
          if (st.buffered.length > MaxBuffer) {
            val (keep, spill) = st.buffered.splitAt(MaxBuffer)
            spill.reverse.foreach(b => out += route(b, DeadLetter))
            st = st.copy(buffered = keep)
          }
      }
    }
    state.update(st)
    // idle horizon in EVENT time past the newest record for this key,
    // tiered by whether the key still buffers (never at-or-below the
    // watermark, which Spark rejects)
    val horizon = if (st.assoc.isDefined) AssocHorizonMs else OrphanHorizonMs
    state.setTimeoutTimestamp(
      math.max(st.maxTs + horizon, state.getCurrentWatermarkMs() + 60L * 1000))
    out.result().iterator
  }

  /** Streaming events (with event-time column `ts`) → routed records.
    * Default watermark 30 min: buffered orphans flush to dead-letter
    * 1 h after the watermark passes them.
    */
  def routed(events: DataFrame, watermark: String = "30 minutes"): Dataset[Routed] = {
    import events.sparkSession.implicits._
    StreamImport.toRecs(events)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", watermark)
      .as[StreamImport.Rec]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
