package perfbench

import graft.operators.ImporterCore
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** `entity_backfill`: rebuild the entity tables from an events-shaped
  * export archive. Each round materializes every `ImporterCore` entity
  * build in full as parquet; rounds repeat until the run's seconds are
  * spent. No streaming state, no upsert sink.
  */
class Backfill(ctx: Ctx) extends Workload {
  private val builds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "transfers" -> ImporterCore.impEntityTransfers,
    "wide" -> ImporterCore.impEntityWide,
    "txnreq" -> ImporterCore.impEntityTxnreq,
    "batches" -> ImporterCore.impEntityBatches,
    "variables" -> ImporterCore.impVariables,
    "tasks" -> ImporterCore.impTasks)
  private val queries = Reads.queriesFor(ctx)
  private val records: Long = Io.readLines(s"${ctx.a.inputs}/records.jsonl").length.toLong
  private val buildSecs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val roundSecs = mutable.ArrayBuffer.empty[Double]
  private var lastRound = ""

  /** One round: every entity table from `input` into `dir`. */
  private def round(input: String, dir: String, parent: Int, record: Boolean): Unit =
    builds.foreach { case (name, build) =>
      ctx.tracer.span(parent, s"build:$name") { _ =>
        val b0 = System.nanoTime()
        build(ctx.spark, input).write.mode("overwrite").parquet(s"$dir/$name")
        if (record) buildSecs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - b0) / 1e9
      }
    }

  /** A round over a prefix of the records compiles every plan; a full
    * round then lets the JIT reach the plateau the timed rounds run on
    * (without it, runs split between two throughput levels).
    */
  def warmup(span: Int): Unit = {
    val dir = ctx.path("work/bf_warm")
    round(s"${ctx.a.inputs}/warm", dir, span, record = false)
    round(ctx.a.inputs, dir, span, record = false)
    Io.rmTree(new java.io.File(dir))
  }

  /** A round commits when its last entity table is written, so
    * `commit_p50_ms` is the median round time here: it repeats
    * `records_per_s` and makes no latency claim of its own.
    */
  def timed(span: Int): Unit = {
    var spent = 0.0
    var i = 0
    while (spent < ctx.a.seconds) {
      lastRound = ctx.path(s"bf_r$i")
      val t0 = System.nanoTime()
      ctx.tracer.span(span, s"round:r$i")(round(ctx.a.inputs, lastRound, _, record = true))
      val secs = (System.nanoTime() - t0) / 1e9
      roundSecs += secs
      System.err.println(f"[perfbench] round $i: $secs%.3f s")
      spent += secs
      i += 1
      if (spent >= ctx.a.seconds) Main.jvm.sampleLive()
    }
    val res = ctx.res
    val rates = roundSecs.map(records / _).toSeq
    res.e2e("records_per_s") = Stats.median(rates)
    res.e2e("commit_p50_ms") = Stats.median(roundSecs.toSeq) * 1000.0
    res.counts("rounds") = i
    res.counts("records") = records.toDouble * i
    if (ctx.a.trace) res.layers("trace.records_per_s") = Stats.median(rates)
  }

  def reads(span: Int): Unit = {
    val table = ctx.spark.read.parquet(s"$lastRound/transfers")
    val ms = Reads.timed(ctx, span, queries, () => table)
    ctx.res.e2e("read_p50_ms") = Stats.median(ms)
    if (ctx.a.trace) ctx.res.layers("read.read_ms") = Stats.median(ms)
    // the oracle text the program publishes for the wide entity, for the
    // check to run beside its own derivations
    Io.writeLines(ctx.path("wide_oracle.sql"), Seq(ImporterCore.impEntityWideSql))
  }

  def layers(e: EngineListener, t0Us: Long, t1Us: Long): Unit = {
    val r = ctx.res.layers
    buildSecs.foreach { case (name, xs) => r(s"core.${name}_s") = Stats.median(xs.toSeq) }
    val perRound = buildSecs.values.map(_.sum).sum / roundSecs.size
    r("attr.per_record_s") = 0.0
    r("attr.per_batch_s") = 0.0
    r("attr.upstream_other_s") = 0.0
    r("attr.core_s") = perRound
    r("unattributed_s") = roundSecs.sum / roundSecs.size - perRound
    // stages as children of their build spans
    val tr = ctx.tracer
    tr.all.filter(_.name.startsWith("build:")).filter(_.startUs >= t0Us).foreach { b =>
      e.stagesIn(b.startUs / 1000, b.endUs / 1000).foreach { s =>
        tr.add(b.id, s"stage:${s.stageId}", s.submitMs * 1000L, s.completeMs * 1000L,
          Map("rdds" -> s.rdds.distinct.mkString("|")))
      }
    }
  }
}
