package perfbench

import graft.Graft
import graft.operators.Specs
import graft.streaming.TenantUpsertSink
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit}

import scala.collection.mutable

/** The importer benchmark's JVM side. One run = one workload in one JVM:
  * set-up and an untimed warm-up of the same code, the timed phase in
  * whole rounds until `--seconds` have passed, then the operations-UI
  * reads. Outputs land as files for perfbench/check.py; metrics land in
  * `result.json`. With `--trace 1` it also records spans and the
  * engine's listener events and derives the per-layer metrics.
  *
  * Usage: Main --workload W --inputs DIR --out DIR --seconds N
  *             --trace 0|1 --spawn-us T --cpus C
  */
object Main {

  case class Args(workload: String, inputs: String, out: String, seconds: Int,
      trace: Boolean, spawnUs: Long, cpus: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("out"), m("seconds").toInt, m("trace") == "1",
      m("spawn-us").toLong, m("cpus").toInt)
  }

  /** Metrics and counts of one run, written as one flat JSON object per
    * group.
    */
  class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def write(path: String): Unit = {
      def obj(m: mutable.LinkedHashMap[String, Double]) = m.map { case (k, v) =>
        val s = if (v.isNaN || v.isInfinite) "null" else v.toString
        "\"" + k + "\":" + s
      }.mkString("{", ",", "}")
      Io.writeLines(path, Seq(s"""{"e2e":${obj(e2e)},"layers":${obj(layers)},"counts":${obj(counts)}}"""))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.spawnUs}")
    val res = new Result
    val runStart = a.spawnUs
    val spark = Graft.session(master = s"local[${a.cpus}]", shufflePartitions = a.cpus,
      appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val engine = if (a.trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = Ctx(spark, a, tracer, res, engine)
    val w: Workload = a.workload match {
      case "import_drain" => new Drain(ctx)
      case "import_paced" => new Paced(ctx)
      case "entity_backfill" => new Backfill(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.span(0, "run") { run =>
      tracer.add(run, "phase:jvm_start", runStart, tracer.nowUs)
      tracer.span(run, "phase:warmup")(w.warmup)
      res.e2e("setup_s") = (Tracer.nowUs - runStart) / 1e6
      jvm.reset()
      val t0 = Tracer.nowUs
      tracer.span(run, "phase:timed")(w.timed)
      val t1 = Tracer.nowUs
      res.counts("timed_s") = (t1 - t0) / 1e6
      if (a.trace) {
        res.layers("jvm.gc_s") = jvm.gcSeconds
        res.layers("jvm.heap_peak_mb") = jvm.heapPeakMb
      }
      tracer.span(run, "phase:reads")(w.reads)
      val t2 = Tracer.nowUs
      res.e2e("peak_rss_mb") = jvm.liveHeapMb + jvm.nativePeakMb
      res.counts("live_heap_mb") = jvm.liveHeapMb
      res.counts("native_peak_mb") = jvm.nativePeakMb
      res.counts("vmhwm_mb") = jvm.vmHwmMb
      if (a.trace) {
        res.layers("jvm.live_heap_mb") = jvm.liveHeapMb
        res.layers("jvm.native_peak_mb") = jvm.nativePeakMb
      }
      engine.foreach { e =>
        BusDrain(spark)
        Layers.engineTotals(e, t0 / 1000, t1 / 1000, res)
        Layers.reads(e, res.counts("read_t0_ms").toLong, t2 / 1000, res)
        w.layers(e, t0, t1)
      }
    }
    tracer.write(s"${a.out}/spans.jsonl")
    res.write(s"${a.out}/result.json")
    spark.stop()
  }

  /** JVM-wide resource readings around the timed phase.
    *
    * The memory a run needs is the live heap plus the resident memory
    * outside the heap (state stores' native memory, metaspace, code,
    * thread stacks, collector structures). The process's own peak
    * resident set would mostly show how much of the fixed heap the
    * collector has cycled through, not what the program holds, so the
    * two parts are measured apart: the live heap by a full collection at
    * the end of the timed phase, while its last round's data are still
    * referenced (`sampleLive`); the rest as the peak resident set less
    * the heap, which the launcher pre-touches so that all of it is
    * resident from the start.
    */
  object jvm {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    private val MB = 1048576.0
    private var gc0 = 0L
    private var forcedMs = 0L
    private var liveMax = 0L
    private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    private def heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    def reset(): Unit = {
      gc0 = gcMs
      forcedMs = 0L
      liveMax = 0L
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    }
    /** Collection time in the timed phase, less the forced collections. */
    def gcSeconds: Double = (gcMs - gc0 - forcedMs) / 1000.0
    def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / MB
    /** A full collection, then the heap still in use; called outside the
      * measured time of a round.
      */
    def sampleLive(): Unit = {
      val g = gcMs
      System.gc()
      forcedMs += gcMs - g
      liveMax = math.max(liveMax, heap.getUsed)
    }
    def liveHeapMb: Double = liveMax / MB
    def nativePeakMb: Double = vmHwmMb - heap.getCommitted / MB
    /** Peak resident set of this process, from the kernel's VmHWM. */
    def vmHwmMb: Double = {
      val line = Io.readLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
  }
}

case class Ctx(spark: SparkSession, a: Main.Args, tracer: Tracer, res: Main.Result,
    engine: Option[EngineListener]) {
  def path(p: String): String = s"${a.out}/$p"
}

/** One workload: warm-up, timed rounds, reads, and its own layer
  * metrics in traced runs.
  */
trait Workload {
  def warmup(span: Int): Unit
  def timed(span: Int): Unit
  def reads(span: Int): Unit
  def layers(e: EngineListener, t0Us: Long, t1Us: Long): Unit
}

/** The transfer row as the checks read it. */
object Rows {
  val Cols = Seq("transfer_key", "tenant", "started_ms", "completed_ms", "amount",
    "last_click_value", "status", "n_events")

  def tsv(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\t")

  /** The sink's current rows, rendered. */
  def sinkRows(spark: SparkSession, sinkDir: String): DataFrame =
    TenantUpsertSink.readCurrent(spark, sinkDir)
      .getOrElse(throw new IllegalStateException(s"no data reached the sink at $sinkDir"))
      .select(explode(col("rows")).as("r")).select("r.*").select(Cols.map(col): _*)
}

/** The operations-UI read sequence: one query per line of
  * `queries.txt`, specs separated by ';', fields by ','
  * (`between,attr,lo,hi`, `later,attr,v`, `earlier,attr,v`,
  * `match,attr,v`). Numeric attributes take long literals.
  */
object Reads {
  /** reads run untimed on the same table right before the timed ones */
  val Warm = 8

  private val Numeric = Set("transfer_key", "started_ms", "completed_ms", "n_events")

  def load(path: String): Seq[Seq[Column]] = Io.readLines(path).toSeq.map { line =>
    line.split(";").toSeq.map { spec =>
      val f = spec.split(",", -1)
      def v(s: String): Column = if (Numeric(f(1))) lit(s.toLong) else lit(s)
      f(0) match {
        case "between" => Specs.between(f(1), v(f(2)), v(f(3)))
        case "later" => Specs.later(f(1), v(f(2)))
        case "earlier" => Specs.earlier(f(1), v(f(2)))
        case "match" => Specs.matchEq(f(1), v(f(2)))
        case other => throw new IllegalArgumentException(s"unknown spec $other")
      }
    }
  }

  /** Run every query against a fresh `frame()`, timing each from the
    * read to the collected result; results go to `outPath` prefixed by
    * the query's index. Returns the per-query milliseconds.
    */
  def run(ctx: Ctx, parent: Int, queries: Seq[Seq[Column]], frame: () => DataFrame,
      outPath: String): Seq[Double] = {
    val lines = mutable.ArrayBuffer.empty[String]
    var files, returned = 0L
    val ms = queries.zipWithIndex.map { case (specs, qi) =>
      ctx.tracer.span(parent, s"read:$qi") { _ =>
        val t0 = System.nanoTime()
        val df = Specs.query(frame(), specs: _*).select(Rows.Cols.map(col): _*)
        val got = df.collect()
        val dt = (System.nanoTime() - t0) / 1e6
        if (ctx.a.trace) files += df.inputFiles.length
        returned += got.length
        got.foreach(r => lines += s"$qi\t${Rows.tsv(r)}")
        dt
      }
    }
    if (outPath != null) Io.writeLines(outPath, lines)
    ctx.res.counts("reads") = queries.size
    ctx.res.counts("read_rows_returned") = returned
    ctx.res.counts("read_files") = files
    ms
  }

  def queriesFor(ctx: Ctx): Seq[Seq[Column]] = load(s"${ctx.a.inputs}/queries.txt")

  /** The read phase: a collection, so that garbage from the timed phase
    * is not collected during a read, then `Warm` untimed reads and the
    * timed sequence, all on the same table. Results go to `reads.tsv`.
    */
  def timed(ctx: Ctx, parent: Int, queries: Seq[Seq[Column]], frame: () => DataFrame): Seq[Double] = {
    System.gc()
    run(ctx, parent, queries.take(Warm), frame, null)
    ctx.res.counts("read_t0_ms") = System.currentTimeMillis().toDouble
    run(ctx, parent, queries, frame, ctx.path("reads.tsv"))
  }
}

/** Percentiles by the nearest-rank rule. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
