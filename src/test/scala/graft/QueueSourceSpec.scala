package graft

import graft.sources.{QueueHub, RawIngest}
import graft.streaming.StreamImport
import org.apache.spark.sql.functions._

class QueueSourceSpec extends SparkSpec {

  test("graft-queue DSv2 source streams published raw records through the import pipeline") {
    import spark.implicits._
    val subject = "zeebe-export-test"
    QueueHub.clear(subject)
    // the raw subject payloads the reference would receive from NATS
    val raw = RawIngest.rawRecords(spark, sfDir).as[String].collect()
    val stream = spark.readStream.format("graft-queue")
      .option("subject", subject).load()
    val parsed = RawIngest.parse(stream)
    val q = parsed.writeStream
      .outputMode("append").format("memory").queryName("queue_parsed")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_q_").toString)
      .start()
    // publish in two chunks — two micro-batches off the subject
    val (c1, c2) = raw.splitAt(raw.length / 2)
    QueueHub.publish(subject, c1.toIndexedSeq)
    q.processAllAvailable()
    val afterFirst = spark.table("queue_parsed").count()
    assert(afterFirst > 0 && afterFirst < raw.length)
    QueueHub.publish(subject, c2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("queue_parsed")
    // streamed parse == batch parse (same records, same extraction)
    val expected = RawIngest.impRawIngest(spark, sfDir)
    assert(got.count() == expected.count())
    val diff = got.select(expected.columns.map(col): _*)
      .exceptAll(expected).count()
    assert(diff == 0, "streamed parse differs from batch parse")
  }

  test("src_queue composes end-to-end: subject → bounded entity fold → merging sink == batch entity") {
    // the reference's full NATS→parse→Inflight*Manager→JPA loop
    // (NatsConsumer.java:39-106) as one composed pipeline: raw JSON
    // strings off the DSv2 subject, parsed once, folded by the BOUNDED
    // production fold, landed through the incarnation-merging sink —
    // and the final table equals the batch entity.
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id)) // in-order: nothing beyond the watermark
    val subject = "zeebe-export-fold"
    QueueHub.clear(subject)
    def js(r: StreamImport.Rec): String =
      s"""{"event_id":${r.event_id},"ts_ms":${r.ts_ms},"user_id":${r.user_id},""" +
        s""""event_type":"${r.event_type}","value":${r.value},"k":${r.k}}"""
    val recSchema = org.apache.spark.sql.Encoders.product[StreamImport.Rec].schema
    val stream = spark.readStream.format("graft-queue").option("subject", subject).load()
    val events = stream.select(from_json(col("value"), recSchema).as("r")).select("r.*")
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_qfold_").toString + "/t"
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    val q = StreamImport.entityStream(events, StreamImport.transferFold) // production defaults
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_qfoldchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
      }
      .start()
    recs.grouped(math.max(recs.length / 3, 1)).foreach { chunk =>
      QueueHub.publish(subject, chunk.map(js).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val cols = Seq("transfer_key", "tenant", "started_ms", "completed_ms",
      "amount", "last_click_value", "status", "n_events")
    val streamed = graft.streaming.TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*")
      .select(cols.map(col): _*).orderBy("transfer_key").collect()
    val batch = graft.operators.ImporterCore.impEntityTransfers(spark, sfDir)
      .select(cols.map(col): _*).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"key ${s.get(0)}: queue=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("micro-batch split: large batches fan out across scan partitions, row set exact; small batches stay single-task") {
    // the source splits each batch's offset range into
    // min(ceil(rows / 8192), defaultParallelism) contiguous slices —
    // every message must still arrive exactly once with its seq, and
    // a batch under the floor must not pay multi-task overhead
    import spark.implicits._
    val subject = "zeebe-export-split"
    QueueHub.clear(subject)
    val n = 20000 // ceil(20000/8192) = 3 slices on the local[4] session
    val stream = spark.readStream.format("graft-queue")
      .option("subject", subject).load()
      .select(col("seq"), col("value"),
        org.apache.spark.sql.functions.spark_partition_id().as("pid"))
    val q = stream.writeStream
      .outputMode("append").format("memory").queryName("queue_split")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_qsplit_").toString)
      .start()
    QueueHub.publish(subject, (0 until n).map(i => s"m$i"))
    q.processAllAvailable()
    val big = spark.table("queue_split").collect()
    assert(big.length == n)
    // exactly once, in offset order per slice, value matching its seq
    assert(big.map(_.getAs[Long]("seq")).sorted.toSeq == (0L until n.toLong))
    big.foreach(r => assert(r.getAs[String]("value") == s"m${r.getAs[Long]("seq")}"))
    val bigPids = big.map(_.getAs[Int]("pid")).distinct
    assert(bigPids.length > 1,
      s"a $n-row batch should scan in parallel, got partitions ${bigPids.toSeq}")
    // second batch, under the 8192-row floor: single scan partition
    QueueHub.publish(subject, (n until n + 100).map(i => s"m$i"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("queue_split").collect()
    assert(all.length == n + 100)
    val smallPids = all.filter(_.getAs[Long]("seq") >= n).map(_.getAs[Int]("pid")).distinct
    assert(smallPids.length == 1,
      s"a 100-row batch should stay single-task, got partitions ${smallPids.toSeq}")
    QueueHub.clear(subject)
  }

  test("queue source requires a subject option") {
    val e = intercept[Exception] {
      spark.readStream.format("graft-queue").load()
        .writeStream.format("console").start()
    }
    assert(e.getMessage.toLowerCase.contains("subject"))
  }

  test("importLoop: the FULL reference loop in ONE query — subject → association-gated bounded fold → merging sink") {
    // NatsConsumer.java:39-106 runs listen → TempDocumentStore →
    // RecordParser → Inflight*Manager → JPA as one consumer; here the
    // same composition is ONE streaming query with ONE stateful
    // operator: the bounded entity fold, gated on the association.
    import spark.implicits._
    val subject = "zeebe-export-loop"
    QueueHub.clear(subject)
    locally {
      val t0 = 1704067200000L
      def r(id: Long, tsMs: Long, user: Long, typ: String,
          value: Double = 10.0, k: Long = 0): StreamImport.Rec =
        StreamImport.Rec(id, tsMs, user, typ, value, k)
      def js(x: StreamImport.Rec): String =
        s"""{"event_id":${x.event_id},"ts_ms":${x.ts_ms},"user_id":${x.user_id},""" +
          s""""event_type":"${x.event_type}","value":${x.value},"k":${x.k}}"""
      // u1: association first — records route as they arrive.
      // u2: activity BEFORE its signup — must be held back from the
      //     sink, then land whole once the association does (the
      //     out-of-order case the reference built TempDocumentStore for).
      // u3: association never arrives — must never reach an entity.
      val u1 = Seq(r(1, t0, 1, "signup"), r(2, t0 + 1000, 1, "purchase", value = 5.0),
        r(3, t0 + 2000, 1, "click", value = 2.5))
      val u2early = Seq(r(10, t0 + 500, 2, "click", value = 7.0),
        r(11, t0 + 1500, 2, "purchase", value = 9.0))
      val u2rest = Seq(r(12, t0 + 10 * 60 * 1000, 2, "signup"),
        r(13, t0 + 11 * 60 * 1000, 2, "view"))
      val u3 = Seq(r(20, t0 + 100, 3, "click", value = 1.0), r(21, t0 + 200, 3, "error", k = 95))
      val sinkDir = java.nio.file.Files.createTempDirectory("graft_loop_").toString + "/t"
      val merge = StreamImport.foldMerge(StreamImport.transferFold)
      val stream = spark.readStream.format("graft-queue").option("subject", subject).load()
      val q = StreamImport.importLoop(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_loopchk_").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
        }
        .start()
      def sinkRows(): Map[Long, Seq[Any]] =
        graft.streaming.TenantUpsertSink.readCurrent(spark, sinkDir)
          .map(_.select(explode(col("rows")).as("r")).select("r.*").collect()
            .map(w => w.getAs[Long]("transfer_key") -> w.toSeq).toMap)
          .getOrElse(Map.empty)
      // batch 1: u1 complete, u2's orphan activity, u3's orphans
      QueueHub.publish(subject, (u1 ++ u2early ++ u3).map(js))
      q.processAllAvailable()
      // ONE query, ONE stateful operator
      assert(q.lastProgress.stateOperators.length == 1,
        s"expected only the fold in the query, got ${q.lastProgress.stateOperators.length}")
      val afterFirst = sinkRows()
      assert(afterFirst.keySet == Set(1L),
        s"only the associated instance materializes: ${afterFirst.keySet}")
      // batch 2: u2's signup arrives → the key is associated and its
      // fold, records before the signup included, reaches the sink
      QueueHub.publish(subject, u2rest.map(js))
      q.processAllAvailable()
      q.stop()
      val got = sinkRows()
      assert(got.keySet == Set(1L, 2L), s"unexpected entity keys: ${got.keySet}")
      // exact vs the direct fold of EVERY record of each routed user
      val fold = StreamImport.transferFold
      for ((key, rs) <- Seq(1L -> u1, 2L -> (u2early ++ u2rest))) {
        val want = fold.render(key,
          rs.foldLeft(fold.empty)(fold.step)).head.productIterator.toSeq
        assert(got(key) == want, s"key $key: composed=${got(key)} direct=$want")
      }
    }
  }
}
