package perfbench

import graft.sources.QueueHub
import graft.streaming.{StreamImport, TenantUpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** One `StreamImport.importLoop` query: the `graft-queue` subject it
  * reads, the `TenantUpsertSink` table it upserts into with
  * `foldMerge(transferFold)`, and the timing of every upsert call.
  */
class Loop(ctx: Ctx, tag: String, trigger: Option[Trigger] = None) {
  val subject = s"perfbench-$tag-${System.nanoTime()}"
  val work: String = ctx.path(s"work/$tag")
  val sinkDir = s"$work/sink"
  /** batchId -> (upsert start, upsert return), epoch us */
  val upserts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  /** batchId -> parquet files the batch's generation holds (traced runs) */
  val genFiles = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private var query: StreamingQuery = _
  var startUs = 0L
  /** the span the workload's throughput is measured over */
  var measuredUs = 0L

  def start(): Unit = {
    val s = Loop.session(ctx.spark)
    val stream = s.readStream.format("graft-queue").option("subject", subject).load()
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    startUs = Tracer.nowUs
    val writer = StreamImport.importLoop(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/chk")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s0 = Tracer.nowUs
        TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
        upserts.put(id, (s0, Tracer.nowUs))
        if (ctx.a.trace) genFiles.put(id, Loop.newestGenFiles(sinkDir))
        ()
      }
    query = trigger.fold(writer)(writer.trigger).start()
  }

  /** Drain everything published so far, then stop the query. */
  def finish(): Unit = {
    query.processAllAvailable()
    query.stop()
    query.awaitTermination()
  }

  def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

  /** Batches that read records: (batchId, first offset, end offset,
    * upsert return in epoch us).
    */
  def batches: Seq[(Long, Long, Long, Long)] = progress.filter(_.numInputRows > 0).map { p =>
    val src = p.sources.head
    (p.batchId, Loop.offset(src.startOffset), Loop.offset(src.endOffset), upserts.get(p.batchId)._2)
  }

  def lastVisibleUs: Long = batches.map(_._4).max

  def hubHeld: Long = QueueHub.size(subject)

  def rows(): DataFrame = Rows.sinkRows(ctx.spark, sinkDir)

  /** The sink's rows to `path` for the check; returns Σ n_events. */
  def dump(path: String): Long = {
    val got = rows().collect()
    Io.writeLines(path, got.map(Rows.tsv))
    got.map(_.getLong(7)).sum
  }

  def close(): Unit = {
    QueueHub.clear(subject)
    Io.rmTree(new java.io.File(work))
  }
}

object Loop {
  private var child: SparkSession = _

  /** The import loop's child session: the cross-operator late-row check
    * off (the program's documented requirement for this composition),
    * the caller's partitioning carried over, and every progress event
    * of a query retained so that batches map back to source offsets.
    */
  def session(spark: SparkSession): SparkSession = synchronized {
    if (child == null) {
      child = spark.newSession()
      child.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
      child.conf.set("spark.sql.shuffle.partitions", spark.conf.get("spark.sql.shuffle.partitions"))
      child.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    }
    child
  }

  def offset(json: String): Long =
    if (json == null || json.trim.isEmpty || json.trim == "null") 0L else json.trim.toLong

  private def files(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(files).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  def newestGenFiles(sinkDir: String): Long =
    Option(new java.io.File(sinkDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .sortBy(_.getName.stripPrefix("gen-").toLong).lastOption.map(files).getOrElse(0L)
}

/** Import loop layers shared by the two streaming workloads. */
abstract class StreamWorkload(ctx: Ctx) extends Workload {
  protected val lines: Array[String] = Io.readLines(s"${ctx.a.inputs}/records.jsonl")
  protected val queries = Reads.queriesFor(ctx)
  /** timed loops, in order; the last one's sink is read after the phase */
  protected val loops = mutable.ArrayBuffer.empty[Loop]
  protected var publishNs = 0L
  protected var hubHeld = 0L
  protected var deadLetters = 0L
  protected var backlogMax = 0L

  protected def publish(l: Loop, from: Int, until: Int): Unit = {
    val t = System.nanoTime()
    QueueHub.publish(l.subject, ArraySeq.unsafeWrapArray(lines).slice(from, until))
    publishNs += System.nanoTime() - t
  }

  def reads(span: Int): Unit = {
    val last = loops.last
    val ms = Reads.timed(ctx, span, queries, () => last.rows())
    ctx.res.e2e("read_p50_ms") = Stats.median(ms)
    if (ctx.a.trace) ctx.res.layers("read.read_ms") = Stats.median(ms)
    loops.foreach(_.close())
  }

  def layers(e: EngineListener, t0Us: Long, t1Us: Long): Unit = {
    val r = ctx.res.layers
    val rounds = loops.size.toDouble
    r("queue.publish_ms") = publishNs / 1e6 / rounds
    r("queue.backlog_records") = backlogMax
    r("queue.hub_records_held") = hubHeld
    r("ooo.dead_letter_records") = deadLetters
    Layers.stream(ctx, e, loops.toSeq, t0Us, t1Us)
  }
}

/** `import_drain`: a seeded backlog published before the query starts,
  * drained to the sink; whole rounds (fresh subject, sink and
  * checkpoint each) until the run's seconds are spent. The backlog
  * drains as one micro-batch, so every record's commit latency is the
  * round time: `commit_p50_ms` repeats `records_per_s` here.
  */
class Drain(ctx: Ctx) extends StreamWorkload(ctx) {
  private def round(tag: String, n: Int, parent: Int): Loop = {
    val l = new Loop(ctx, tag)
    publish(l, 0, n)
    backlogMax = math.max(backlogMax, l.hubHeld)
    ctx.tracer.span(parent, s"round:$tag") { _ =>
      l.start()
      l.finish()
    }
    l
  }

  /** A round over a fifth of the backlog compiles the plans; a full
    * round then lets the JIT reach the plateau the timed rounds run on
    * (without it, runs split between two throughput levels).
    */
  def warmup(span: Int): Unit = {
    Seq(("warm0", lines.length / 5), ("warm1", lines.length)).foreach { case (tag, n) =>
      round(tag, n, span).close()
    }
    publishNs = 0L
    backlogMax = 0L
  }

  def timed(span: Int): Unit = {
    val n = lines.length
    val rates = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    while (spent < ctx.a.seconds) {
      val i = loops.size
      // a round's subject and sink stay only until its rows are checked;
      // the last round's sink serves the reads
      loops.lastOption.foreach(_.close())
      val l = round(s"r$i", n, span)
      loops += l
      l.measuredUs = l.lastVisibleUs - l.startUs
      val secs = l.measuredUs / 1e6
      System.err.println(f"[perfbench] round $i: $secs%.3f s")
      spent += secs
      rates += n / secs
      if (spent >= ctx.a.seconds) Main.jvm.sampleLive()
      l.batches.foreach { case (_, from, until, vis) =>
        val ms = (vis - l.startUs) / 1000.0
        lat ++= Iterator.fill((until - from).toInt)(ms)
      }
      ctx.tracer.span(span, s"check:r$i") { _ =>
        hubHeld = l.hubHeld
        deadLetters = n - l.dump(ctx.path(s"drain_r$i.tsv"))
      }
    }
    val res = ctx.res
    res.e2e("records_per_s") = Stats.median(rates.toSeq)
    res.e2e("commit_p50_ms") = Stats.median(lat.toSeq)
    res.counts("rounds") = loops.size
    res.counts("records") = n.toDouble * loops.size
    res.counts("batches") = loops.map(_.batches.size).sum
    if (ctx.a.trace) res.layers("trace.records_per_s") = Stats.median(rates.toSeq)
  }
}

/** `import_paced`: an open-loop generator thread publishes the records
  * on a fixed schedule (`rate` records/s) while the query runs on a
  * processing-time trigger. A record's commit latency runs from its
  * scheduled publish time to the return of the upsert that made its
  * batch visible.
  */
class Paced(ctx: Ctx) extends StreamWorkload(ctx) {
  private val meta = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"${ctx.a.inputs}/meta.json")))
  private def metaNumber(key: String): Double =
    s"\"$key\":\\s*([0-9.]+)".r.findFirstMatchIn(meta).map(_.group(1).toDouble)
      .getOrElse(throw new IllegalArgumentException(s"meta.json has no $key"))
  private val rate = metaNumber("rate")
  /** records of the stream's first seconds, which settle the fresh query */
  private val settle = metaNumber("settle_records").toInt
  private var lagUs = 0.0

  /** Run one paced stream of the first `n` records; returns the loop
    * and each record's scheduled publish time (epoch us).
    */
  private def stream(tag: String, n: Int, parent: Int): (Loop, Array[Long]) = {
    val l = new Loop(ctx, tag, Some(Trigger.ProcessingTime(Paced.TriggerMs)))
    l.start()
    val t0 = Tracer.nowUs + 100000L
    val sched = Array.tabulate(n)(i => t0 + (i * 1e6 / rate).toLong)
    var lagSum = 0.0
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val now = Tracer.nowUs
        var due = i
        while (due < n && sched(due) <= now) due += 1
        if (due > i) {
          publish(l, i, due)
          val at = Tracer.nowUs
          var j = i
          while (j < due) { lagSum += at - sched(j); j += 1 }
          if (ctx.a.trace) backlogMax = math.max(backlogMax, Layers.backlog(l))
          i = due
        } else java.util.concurrent.locks.LockSupport.parkNanos(
          math.max(0L, sched(i) - now) * 1000L)
      }
    }, "perfbench-generator")
    ctx.tracer.span(parent, s"stream:$tag") { _ =>
      gen.start()
      gen.join()
      l.finish()
    }
    lagUs = lagSum / n
    (l, sched)
  }

  def warmup(span: Int): Unit = {
    val (l, _) = stream("warm", math.min(lines.length, rate.toInt), span)
    l.close()
    publishNs = 0L
    backlogMax = 0L
    lagUs = 0.0
  }

  def timed(span: Int): Unit = {
    val n = lines.length
    val (l, sched) = stream("r0", n, span)
    loops += l
    l.measuredUs = l.lastVisibleUs - sched(0)
    val lat = mutable.ArrayBuffer.empty[Double]
    l.batches.foreach { case (_, from, until, vis) =>
      var j = math.max(from.toInt, settle)
      while (j < until) { lat += (vis - sched(j)) / 1000.0; j += 1 }
    }
    val res = ctx.res
    res.e2e("records_per_s") = (n - settle) / ((l.lastVisibleUs - sched(settle)) / 1e6)
    res.e2e("commit_p50_ms") = Stats.median(lat.toSeq)
    res.counts("rounds") = 1
    res.counts("records") = n
    res.counts("batches") = l.batches.size
    Main.jvm.sampleLive()
    ctx.tracer.span(span, "check:r0") { _ =>
      hubHeld = l.hubHeld
      deadLetters = n - l.dump(ctx.path("paced_r0.tsv"))
    }
    if (ctx.a.trace) {
      res.layers("gen.lag_ms") = lagUs / 1000.0
      res.layers("trace.records_per_s") = res.e2e("records_per_s")
    }
  }
}

object Paced {
  /** The processing-time trigger interval: longer than a batch takes on
    * this host at the paced rate (about 2.5 s), so that batches start on
    * a fixed clock and a record's wait for its batch does not depend on
    * how the previous batches happened to fall.
    */
  val TriggerMs = 3000L
}
