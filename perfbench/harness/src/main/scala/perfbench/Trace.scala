package perfbench

import scala.collection.mutable.ArrayBuffer

/** One span of the traced run: a named interval with its parent, all
  * spans of a run sharing one trace id. Times are epoch microseconds.
  */
case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, String] = Map.empty)

/** In-memory span recorder. Disabled, it records nothing and costs one
  * branch per call; enabled, spans stay in memory and are written out
  * once, when the run ends.
  */
class Tracer(val enabled: Boolean, val traceId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def nowUs: Long = Tracer.nowUs

  def add(parent: Int, name: String, startUs: Long, endUs: Long,
      attrs: Map[String, String] = Map.empty): Int = synchronized {
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, startUs, endUs, attrs)
      id
    }
  }

  /** Run `body` as a span under `parent`; the body gets the span's id
    * so that its children can name it.
    */
  def span[T](parent: Int, name: String)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val s = nowUs
      try body(id)
      finally synchronized { spans += Span(id, parent, name, s, nowUs) }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans named `name`. */
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: String): Unit = if (enabled) {
    def q(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    val body = all.sortBy(_.id).map { s =>
      val a = s.attrs.map { case (k, v) => q(k) + ":" + q(v) }.mkString(",")
      s"""{"trace":${q(traceId)},"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"attrs":{$a}}"""
    }
    Io.writeLines(path, body)
  }
}

object Tracer {
  /** Wall clock in epoch microseconds (Instant has microsecond
    * resolution on Linux JDKs), comparable with Spark's epoch-ms event
    * times and with the launcher's own clock.
    */
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** One completed Spark stage, with its task metrics summed. */
case class StageRec(stageId: Int, numTasks: Int,
    submitMs: Long, completeMs: Long, rdds: Seq[String],
    runMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long,
    inputRecords: Long, outputRecords: Long, outputBytes: Long,
    taskMs: Seq[Long]) {
  def has(rdd: String): Boolean = rdds.contains(rdd)
}

/** Engine-side recorder over Spark's public listener events: stages
  * with their task metrics and jobs with their start times. Registered
  * only in traced runs.
  */
class EngineListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val taskMs = scala.collection.concurrent.TrieMap.empty[Int, ArrayBuffer[Long]]
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add((e.jobId, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long])
    b.synchronized(b += e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val ok = m != null
    stages.add(StageRec(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.rddInfos.map(_.name),
      if (ok) m.executorRunTime else 0L, if (ok) m.executorCpuTime else 0L,
      if (ok) m.shuffleWriteMetrics.bytesWritten else 0L,
      if (ok) m.shuffleWriteMetrics.recordsWritten else 0L,
      if (ok) m.shuffleReadMetrics.totalBytesRead else 0L,
      if (ok) m.shuffleReadMetrics.fetchWaitTime else 0L,
      if (ok) m.memoryBytesSpilled + m.diskBytesSpilled else 0L,
      if (ok) m.inputMetrics.recordsRead else 0L,
      if (ok) m.outputMetrics.recordsWritten else 0L,
      if (ok) m.outputMetrics.bytesWritten else 0L,
      taskMs.remove(i.stageId).map(_.toList).getOrElse(Nil)))
  }

  def stagesIn(fromMs: Long, toMs: Long): Seq[StageRec] = {
    import scala.jdk.CollectionConverters._
    stages.asScala.filter(s => s.submitMs >= fromMs && s.submitMs <= toMs)
      .toSeq.sortBy(_.stageId)
  }

  def jobsIn(fromMs: Long, toMs: Long): Int = {
    import scala.jdk.CollectionConverters._
    jobStarts.asScala.count { case (_, t) => t >= fromMs && t <= toMs }
  }
}

object Io {
  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f))
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  def readLines(path: String): Array[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .filter(_.nonEmpty).toArray
  }

  def rmTree(f: java.io.File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }
}
