package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSourceV2 micro-batch streaming source modeling the reference's
  * NATS subject feed (NatsConsumer @StreamListener: raw JSON message
  * strings off a subject). The real NATS client is out of scope in the
  * zero-egress container (SURVEY.md §5) — this source keeps the exact
  * contract a NATS-backed implementation would have (subject name →
  * ordered raw `value` strings with a sequence number and arrival
  * timestamp) while backing it with an in-process hub, the same
  * single-JVM trade MemoryStream makes. Swapping the hub for a JetStream
  * pull consumer changes only `QueueHub`.
  *
  * Usage:
  *   QueueHub.publish("zeebe-export", Seq("{...}", ...))
  *   spark.readStream.format("graft-queue")
  *        .option("subject", "zeebe-export").load()
  *   // schema: value STRING, seq BIGINT, arrival_ms BIGINT
  */
object QueueHub {
  private val subjects =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.ArrayList[(Long, String)]]()

  private def buf(subject: String) =
    subjects.computeIfAbsent(subject, _ => new java.util.ArrayList[(Long, String)]())

  def publish(subject: String, msgs: Seq[String]): Unit = {
    val b = buf(subject)
    b.synchronized {
      val now = System.currentTimeMillis()
      msgs.foreach(m => b.add((now, m)))
    }
  }

  def size(subject: String): Long = {
    val b = buf(subject)
    b.synchronized(b.size().toLong)
  }

  def slice(subject: String, from: Long, until: Long): Seq[(Long, Long, String)] = {
    val b = buf(subject)
    b.synchronized {
      // slice runs inside executor-side PartitionReaders; the hub is a
      // driver-JVM singleton, so on any non-local master the executor's
      // hub is empty — fail with the contract, not an index error
      require(b.size() >= until,
        s"graft-queue subject '$subject' has ${b.size()} messages but offsets " +
          s"[$from, $until) were planned — the hub is per-JVM, so this source " +
          "only supports local[*] masters (swap QueueHub for a real broker " +
          "client to go distributed)")
      (from until until).map { i =>
        val (ts, m) = b.get(i.toInt)
        (i, ts, m)
      }
    }
  }

  /** test isolation */
  def clear(subject: String): Unit = subjects.remove(subject)
}

class QueueSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-queue"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    QueueSourceProvider.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val subject = Option(properties.get("subject")).getOrElse(
      throw new IllegalArgumentException("graft-queue requires option 'subject'"))
    new QueueTable(subject)
  }
}

object QueueSourceProvider {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("arrival_ms", LongType, nullable = false)))
}

private class QueueTable(subject: String) extends Table with SupportsRead {
  override def name(): String = s"graft-queue:$subject"
  override def schema(): StructType = QueueSourceProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = QueueSourceProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new QueueMicroBatchStream(subject)
      }
    }
}

private case class SeqOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private class QueueMicroBatchStream(subject: String) extends MicroBatchStream {
  // captured at stream creation (driver side): how many scan slots the
  // session offers a micro-batch
  private val slots: Int =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism

  override def initialOffset(): Offset = SeqOffset(0L)
  override def latestOffset(): Offset = SeqOffset(QueueHub.size(subject))
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Split each micro-batch's offset range across scan partitions: a
    * single InputPartition serializes everything between the source
    * and the first exchange (the whole from_json parse, and for an
    * unshuffled sink the write too) into ONE task. The split is
    * scale-adaptive — ranges under [[QueueMicroBatchStream.MinRowsPerPartition]]
    * stay single-task so toy batches don't pay per-task overhead, and
    * the partition count is capped at the session's parallelism.
    * Offsets remain contiguous and each message keeps its (seq,
    * arrival_ms) pair, so the row multiset per batch is byte-identical
    * to the single-partition plan; downstream consumers are row-local
    * projections or commutative keyed folds (FoldMonoidSpec), so
    * results are partition-count-independent.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqOffset].v
    val e = end.asInstanceOf[SeqOffset].v
    if (e <= s) Array.empty
    else {
      val total = e - s
      val byFloor = (total + QueueMicroBatchStream.MinRowsPerPartition - 1) /
        QueueMicroBatchStream.MinRowsPerPartition
      val n = math.max(1L, math.min(byFloor, slots.toLong)).toInt
      if (n > 1)
        System.err.println(s"[graft-queue] $subject batch [$s,$e) -> $n scan partitions")
      Array.tabulate[InputPartition](n) { i =>
        QueuePartition(subject, s + total * i / n, s + total * (i + 1) / n)
      }.filter { case p: QueuePartition => p.until > p.from }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[QueuePartition]
        val rows = QueueHub.slice(p.subject, p.from, p.until).iterator
        new PartitionReader[InternalRow] {
          private var current: (Long, Long, String) = _
          override def next(): Boolean = {
            if (rows.hasNext) { current = rows.next(); true } else false
          }
          override def get(): InternalRow =
            InternalRow(UTF8String.fromString(current._3), current._1, current._2)
          override def close(): Unit = ()
        }
      }
    }
}

private object QueueMicroBatchStream {
  /** Per-partition row floor for the micro-batch split: small enough
    * that the gate corpora fan out across the local cores, large enough
    * that a partition amortizes its task overhead. A production
    * deployment sizes this to (batch rows / cluster scan slots).
    */
  val MinRowsPerPartition: Long = 8192L
}

private case class QueuePartition(subject: String, from: Long, until: Long)
  extends InputPartition
