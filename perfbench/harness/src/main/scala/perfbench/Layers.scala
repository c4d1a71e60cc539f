package perfbench

import graft.sources.QueueHub

/** Per-layer metrics of a traced run, derived from the harness's own
  * timers around each call into a layer and from Spark's public
  * listener events (query progress, state-operator metrics, stage task
  * metrics). Sums are per round; per-batch figures are means over the
  * batches that read records.
  */
object Layers {
  /** Spark's RDD names for the stages of the import loop's upstream
    * plan: the queue scan and the two stateful operators.
    */
  private val StateRdd = "StateStoreRDD"
  private val ScanRdd = "DataSourceRDD"

  private def dm(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Records published but not yet read by a committed batch. */
  def backlog(l: Loop): Long = {
    val committed = l.progress.lastOption.map(p => Loop.offset(p.sources.head.endOffset)).getOrElse(0L)
    QueueHub.size(l.subject) - committed
  }

  def stream(ctx: Ctx, e: EngineListener, loops: Seq[Loop], t0Us: Long, t1Us: Long): Unit = {
    val r = ctx.res.layers
    val rounds = loops.size.toDouble
    val tr = ctx.tracer
    var planning, wal, offs, getb = 0.0
    var oooUpd, oooCommit, oooRemoved, foldUpd, foldCommit, foldRemoved = 0.0
    var oooRows, oooBytes, foldRows, foldBytes = 0L
    var upsertMs, selfMs, upstreamMs, commitWallMs, recordWallMs = 0.0
    var rowsWritten, bytesWritten, filesWritten, batchRows = 0.0
    var partials, inputRows, scanTasks = 0.0
    var dataBatches, allBatches = 0
    val timedSpan = tr.named("phase:timed").headOption.map(_.id).getOrElse(0)
    loops.foreach { l =>
      val lastData = l.batches.map(_._1).maxOption.getOrElse(-1L)
      l.progress.filter(_.batchId <= lastData).foreach { p =>
        allBatches += 1
        planning += dm(p, "queryPlanning")
        wal += dm(p, "walCommit")
        offs += dm(p, "commitOffsets")
        getb += dm(p, "latestOffset") + dm(p, "getBatch")
        val ops = p.stateOperators
        if (ops.length >= 2) {
          val (o, f) = (ops(0), ops(1))
          oooUpd += o.allUpdatesTimeMs; oooCommit += o.commitTimeMs; oooRemoved += o.numRowsRemoved
          foldUpd += f.allUpdatesTimeMs; foldCommit += f.commitTimeMs; foldRemoved += f.numRowsRemoved
          oooRows = math.max(oooRows, o.numRowsTotal); oooBytes = math.max(oooBytes, o.memoryUsedBytes)
          foldRows = math.max(foldRows, f.numRowsTotal); foldBytes = math.max(foldBytes, f.memoryUsedBytes)
          if (p.numInputRows > 0) batchRows += f.numRowsUpdated
        }
        val bStart = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val batchSpan = tr.add(timedSpan, "batch", bStart, bStart + dm(p, "triggerExecution") * 1000L,
          Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
        Option(l.upserts.get(p.batchId)).foreach { case (s0, s1) =>
          val wall = (s1 - s0) / 1000.0
          val stages = e.stagesIn(s0 / 1000, s1 / 1000)
          val up = stages.filter(s => s.has(StateRdd) || s.has(ScanRdd))
          val upWall = if (up.isEmpty) 0.0
            else math.min(wall, math.max(0.0, up.map(_.completeMs).max - s0 / 1000.0))
          // the upstream stages' wall time, split by their task time:
          // state-store commits, per-record work (the scan stage's parse
          // and both operators' updates), and the rest
          val upRun = up.map(_.runMs).sum.toDouble
          def share(taskMs: Double) = if (upRun > 0) math.min(upWall, upWall * taskMs / upRun) else 0.0
          val commit = if (ops.length >= 2) ops(0).commitTimeMs + ops(1).commitTimeMs else 0L
          val update = if (ops.length >= 2) ops(0).allUpdatesTimeMs + ops(1).allUpdatesTimeMs else 0L
          val scan = up.filter(_.has(ScanRdd)).map(_.runMs).sum
          upsertMs += wall
          upstreamMs += upWall
          selfMs += wall - upWall
          commitWallMs += share(commit)
          recordWallMs += share(update + scan)
          val upsertSpan = tr.add(batchSpan, "sink.upsert", s0, s1)
          stages.foreach(s => tr.add(upsertSpan, s"stage:${s.stageId}", s.submitMs * 1000L,
            s.completeMs * 1000L, Map("rdds" -> s.rdds.distinct.mkString("|"))))
          if (p.numInputRows > 0) {
            dataBatches += 1
            inputRows += p.numInputRows
            rowsWritten += stages.map(_.outputRecords).sum
            bytesWritten += stages.map(_.outputBytes).sum
            filesWritten += Option(l.genFiles.get(p.batchId)).getOrElse(0L)
            stages.find(_.has(StateRdd)).foreach(s => partials += s.shuffleWriteRecords)
            stages.find(_.has(ScanRdd)).foreach(s => scanTasks += s.numTasks)
          }
        }
      }
    }
    val db = math.max(1, dataBatches).toDouble
    r("queue.get_batch_ms") = getb / rounds
    r("queue.scan_tasks") = scanTasks / db
    r("ooo.state_rows") = oooRows
    r("ooo.state_bytes") = oooBytes
    r("ooo.update_ms") = oooUpd / rounds
    r("ooo.commit_ms") = oooCommit / rounds
    r("ooo.removed_rows") = oooRemoved / rounds
    r("fold.state_rows") = foldRows
    r("fold.state_bytes") = foldBytes
    r("fold.update_ms") = foldUpd / rounds
    r("fold.commit_ms") = foldCommit / rounds
    r("fold.evicted_rows") = foldRemoved / rounds
    r("fold.partials_per_record") = if (inputRows > 0) partials / inputRows else 0.0
    r("sink.upsert_ms") = upsertMs / rounds
    r("sink.self_ms") = selfMs / rounds
    r("sink.rows_written") = rowsWritten / db
    r("sink.bytes_written") = bytesWritten / db
    r("sink.files_written") = filesWritten / db
    r("sink.write_amplification") = if (batchRows > 0) rowsWritten / batchRows else 0.0
    r("engine.planning_ms") = planning / rounds
    r("engine.wal_commit_ms") = wal / rounds
    r("engine.offset_commit_ms") = offs / rounds
    r("engine.jobs_per_batch") = e.jobsIn(t0Us / 1000, t1Us / 1000) / math.max(1, allBatches).toDouble
    // wall-time attribution of one round. Per-record: the queue scan
    // with its parse, and both state operators' updates. Per-batch:
    // planning, log commits, the source's offset calls, state-store
    // commits and the sink's own work. Upstream other: the rest of the
    // stateful stages (exchanges, pre-fold, task launch, state loads).
    val perRecord = recordWallMs / 1000.0 / rounds
    val perBatch = (planning + wal + offs + getb + commitWallMs + selfMs) / 1000.0 / rounds
    val other = (upstreamMs - recordWallMs - commitWallMs) / 1000.0 / rounds
    r("attr.per_record_s") = perRecord
    r("attr.per_batch_s") = perBatch
    r("attr.upstream_other_s") = other
    r("attr.core_s") = 0.0
    val measured = loops.map(_.measuredUs).sum / 1e6 / rounds
    r("unattributed_s") = measured - perRecord - perBatch - other
  }

  /** Engine totals over the timed window, per round. */
  def engineTotals(e: EngineListener, t0Ms: Long, t1Ms: Long, res: Main.Result): Unit = {
    val st = e.stagesIn(t0Ms, t1Ms)
    val rounds = math.max(1.0, res.counts.getOrElse("rounds", 1.0))
    val r = res.layers
    r("engine.executor_run_s") = st.map(_.runMs).sum / 1000.0 / rounds
    r("engine.executor_cpu_s") = st.map(_.cpuNs).sum / 1e9 / rounds
    r("engine.shuffle_write_bytes") = st.map(_.shuffleWriteBytes).sum / rounds
    r("engine.shuffle_read_bytes") = st.map(_.shuffleReadBytes).sum / rounds
    r("engine.fetch_wait_ms") = st.map(_.fetchWaitMs).sum / rounds
    r("engine.spill_bytes") = st.map(_.spillBytes).sum / rounds
    val skews = st.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble))
      if (med > 0) s.taskMs.max / med else 1.0
    }
    r("engine.task_skew") = if (skews.isEmpty) 1.0 else Stats.median(skews)
  }

  /** Read-path counts over the reads phase. */
  def reads(e: EngineListener, fromMs: Long, toMs: Long, res: Main.Result): Unit = {
    val scanned = e.stagesIn(fromMs, toMs).map(_.inputRecords).sum.toDouble
    val returned = res.counts.getOrElse("read_rows_returned", 0.0)
    val n = math.max(1.0, res.counts.getOrElse("reads", 1.0))
    res.layers("read.files_scanned") = res.counts.getOrElse("read_files", 0.0) / n
    res.layers("read.rows_scanned_per_row_returned") = if (returned > 0) scanned / returned else 0.0
  }
}
