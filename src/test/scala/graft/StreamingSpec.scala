package graft

import graft.operators.{ImporterCore, Multimodal}
import graft.streaming.{JdbcUpsert, OutOfOrder, StreamImport, TenantUpsertSink}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.reflect.runtime.universe.TypeTag

class StreamingSpec extends SparkSpec {

  import StreamImport.Rec

  private def mkRec(id: Long, tsMs: Long, user: Long, typ: String,
      value: Double = 10.0, k: Long = 0): Rec =
    Rec(id, tsMs, user, typ, value, k)

  /** A watermark wider than any disorder these specs feed: the corpora
    * span 30 days of event time, so even a shuffled arrival leaves no
    * record late and no key evicted.
    */
  private val NoLate = "365 days"

  /** `chunks`, one micro-batch each, through the bounded fold of `spec`
    * into the merging sink ([[StreamImport.foldMerge]]): the rendered
    * entity rows the sink holds at the end.
    */
  private def foldedRows[S <: Product : TypeTag, O <: Product : TypeTag](
      spec: StreamImport.EntityFold[S, O], chunks: Iterator[Seq[Rec]],
      watermark: String = NoLate,
      horizonMs: Long = StreamImport.EvictHorizonMs): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_fold_").toString + "/t"
    val merge = StreamImport.foldMerge(spec)
    val q = StreamImport.entityStream(stream.toDF(), spec, watermark, horizonMs)
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_foldchk_").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
      }
      .start()
    chunks.foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*")
  }

  test("stream_import over micro-batches equals the batch transfers entity") {
    val allRecs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect().sortBy(_.event_id)
    // three arbitrary chunks force incremental folding
    val streamed = foldedRows(StreamImport.transferFold,
      allRecs.grouped(math.max(allRecs.length / 3, 1)).map(_.toSeq))
      .orderBy("transfer_key").collect()
    val batch = ImporterCore.impEntityTransfers(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      for (c <- Seq("transfer_key", "tenant", "started_ms", "completed_ms",
        "amount", "last_click_value", "status", "n_events"))
        assert(s.getAs[Any](c) == b.getAs[Any](c),
          s"column $c: streaming=${s.getAs[Any](c)} batch=${b.getAs[Any](c)} key=${s.getAs[Any]("transfer_key")}")
    }
  }

  test("upserting an all-empty batch writes no generation and no manifest") {
    // pins the r18 empty-batch guard's null-aggregate semantics (null
    // max + empty collect_set over an empty frame): an empty trigger
    // must leave the table untouched — no gen-* dir, no manifest, and
    // readCurrent still None (r18 ADVICE item)
    import spark.implicits._
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_upsert_").toString + "/t"
    val empty = Seq.empty[(String, String, Long)].toDF("transfer_key", "tenant", "v")
    TenantUpsertSink.upsert(sinkDir, empty, "transfer_key")
    val dir = new java.io.File(sinkDir)
    val children = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    assert(!children.exists(_.getName.startsWith("gen-")),
      s"empty upsert wrote a generation: ${children.map(_.getName)}")
    assert(!children.exists(_.getName == "_CURRENT"),
      s"empty upsert wrote a manifest: ${children.map(_.getName)}")
    assert(TenantUpsertSink.readCurrent(spark, sinkDir).isEmpty)
  }

  test("stream_txnreq: RANDOMIZED arrival order still equals the batch entity") {
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    // deterministic shuffle: last-write-wins must be decided by event
    // ORD, not arrival order
    val shuffled = new scala.util.Random(7).shuffle(recs.toVector)
    val txnCols = Seq("txn_key", "state", "started_ms", "completed_ms", "amount",
      "auth_type", "payer_dfsp_id", "payee_dfsp_id",
      "initiator_type", "scenario", "n_events")
    val streamed = foldedRows(StreamImport.txnreqFold,
      shuffled.grouped(math.max(shuffled.length / 4, 1)))
      .select(txnCols.map(col): _*)
      .orderBy("txn_key").collect()
    val batch = ImporterCore.impEntityTxnreq(spark, sfDir)
      .select(txnCols.map(col): _*)
      .collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"key ${s.get(0)}: stream=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_wide: out-of-order arrivals keep the last-write nested-JSON picks") {
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    val shuffled = new scala.util.Random(13).shuffle(recs.toVector)
    val cols = Seq("transfer_key", "payer_party_id", "payer_id_type",
      "payee_party_id", "payee_id_type", "amount", "currency",
      "transaction_id", "payer_dfsp_id", "payee_dfsp_id",
      "completed_ms", "transfer_state",
      "payer_fee", "payer_fee_currency", "payer_quote_code",
      "payee_fee", "payee_fee_currency", "payee_quote_code",
      "error_information", "status")
    val streamed = foldedRows(StreamImport.wideFold,
      shuffled.grouped(math.max(shuffled.length / 4, 1)))
      .select(cols.map(col): _*).orderBy("transfer_key").collect()
    val batch = ImporterCore.impEntityWide(spark, sfDir)
      .select(cols.map(col): _*).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"key ${s.get(0)}: stream=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_import recovers from its checkpoint across a restart") {
    // the production restart path: run 1 processes half the corpus and
    // stops; run 2 is a NEW query on the SAME checkpoint that must
    // (a) recover the per-key fold state from the state store,
    // (b) skip the files run 1 already committed, and
    // (c) land the union result through the idempotent merging sink —
    // final table == the batch entity over the full corpus. Arrival is
    // by event id, not event time, under the no-late watermark.
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(_.event_id)
    val (first, second) = recs.splitAt(recs.length / 2)
    val work = java.nio.file.Files.createTempDirectory("graft_restart_").toString
    val inDir = s"$work/in"
    val chkDir = s"$work/chk"
    val sinkDir = s"$work/sink"
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.createDataset(recs.toIndexedSeq).toDF().schema)
        .parquet(inDir)
      val q = StreamImport.entityStream(stream, StreamImport.transferFold, NoLate)
        .writeStream.outputMode("update")
        .option("checkpointLocation", chkDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.createDataset(first.toIndexedSeq).toDF()
      .write.mode("overwrite").parquet(inDir)
    runOnce() // run 1: half the corpus, then the query STOPS
    spark.createDataset(second.toIndexedSeq).toDF()
      .write.mode("append").parquet(inDir)
    runOnce() // run 2: fresh query, same checkpoint — resumes, not reprocesses
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*")
      .select("transfer_key", "tenant", "started_ms", "completed_ms",
        "amount", "last_click_value", "status", "n_events")
      .orderBy("transfer_key").collect()
    val batch = ImporterCore.impEntityTransfers(spark, sfDir)
      .select("transfer_key", "tenant", "started_ms", "completed_ms",
        "amount", "last_click_value", "status", "n_events")
      .collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq,
        s"key ${s.get(0)}: restarted-stream=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("BOUNDED stream_import recovers from its checkpoint across a restart (IncSt state + merging sink)") {
    // the production restart path for the bounded default: run 1
    // processes half the corpus and stops; run 2 is a NEW query on the
    // SAME checkpoint that must recover the IncSt (incarnation-marked)
    // fold state from RocksDB-compatible snapshots, skip committed
    // files, and land the union through the MERGING sink — final table
    // == the batch entity over the full corpus.
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id)) // in-order: nothing late
    val (first, second) = recs.splitAt(recs.length / 2)
    val work = java.nio.file.Files.createTempDirectory("graft_brestart_").toString
    val inDir = s"$work/in"
    val chkDir = s"$work/chk"
    val sinkDir = s"$work/sink"
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.createDataset(recs.toIndexedSeq).toDF().schema)
        .parquet(inDir)
      val q = StreamImport.entityStream(stream, StreamImport.transferFold) // production defaults
        .writeStream.outputMode("update")
        .option("checkpointLocation", chkDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.createDataset(first.toIndexedSeq).toDF()
      .write.mode("overwrite").parquet(inDir)
    runOnce() // run 1: half the corpus, then the query STOPS
    spark.createDataset(second.toIndexedSeq).toDF()
      .write.mode("append").parquet(inDir)
    runOnce() // run 2: fresh query, same checkpoint — resumes, not reprocesses
    val cols = Seq("transfer_key", "tenant", "started_ms", "completed_ms",
      "amount", "last_click_value", "status", "n_events")
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*")
      .select(cols.map(col): _*).orderBy("transfer_key").collect()
    val batch = ImporterCore.impEntityTransfers(spark, sfDir)
      .select(cols.map(col): _*).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq,
        s"key ${s.get(0)}: restarted-bounded-stream=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("import_loop recovers from its checkpoint across a MID-BACKLOG kill (association-gated fold + merging sink)") {
    // The COMPOSED consumer's crash-restart contract end-to-end: run 1
    // is stopped right after its first micro-batch commits, with the
    // rest of the backlog still unread; run 2 is a NEW query on the
    // SAME checkpoint that must recover the fold's state store
    // (including an orphan folded BEFORE the crash whose signup only
    // arrives after it), skip the committed file, drain the remainder
    // plus a file that arrives after the crash, and land everything
    // through the idempotent merging sink. Final rows == the direct per-user fold of every
    // routed record, bit-for-bit (the reference's at-least-once +
    // idempotent-upsert posture).
    //
    // Arrival is a synthetic NATS-like stream: globally ts-ordered
    // with bounded local disorder — the composition's documented
    // contract (the real corpus's ~72 h pre-signup gaps only fit a
    // single-batch backlog; chunked arrival beyond the fold's
    // horizons drops orphans BY DESIGN, which is the bounded-state
    // trade, not a crash bug).
    import spark.implicits._
    val t0 = 1704067200000L
    def r(id: Long, ts: Long, u: Long, typ: String, v: Double = 1.0,
        k: Long = 0): StreamImport.Rec = StreamImport.Rec(id, ts, u, typ, v, k)
    // 40 users, each: signup then 28 records over ~4 h (every horizon
    // respected: assoc idle gaps << 24 h, disorder << the 2 h
    // composed watermark)
    val regular = (0L until 40L).flatMap { u =>
      val base = t0 + u * 60000L
      r(u * 100, base, u, "signup") +:
        (2 until 30).map { i =>
          val typ = if (i % 7 == 0) "purchase" else if (i % 11 == 0) "view" else "click"
          r(u * 100 + i, base + i * 8L * 60000L, u, typ,
            (i % 13) + 0.5, if (i % 17 == 0) 95L else 0L)
        }
    }
    // arrival = ts order for the regular users
    val arrival0 = regular.sortBy(x => (x.ts_ms, x.event_id)).toIndexedSeq
    val quarter = arrival0.length / 4
    val sliceEndTs = arrival0(quarter - 1).ts_ms
    // the straddler: pre-signup activity arrives in slice 1 (orphan
    // state at the crash), the signup + tail only in slice 2 — the
    // association must land on the RESTARTED fold state
    val straddler = 99L
    val sPre = Seq(
      r(9901, sliceEndTs + 10 * 60000L, straddler, "click", 7.5),
      r(9902, sliceEndTs + 12 * 60000L, straddler, "purchase", 20.0))
    val sRest = Seq(
      r(9900, sliceEndTs + 15 * 60000L, straddler, "signup"),
      r(9903, sliceEndTs + 40 * 60000L, straddler, "view"))
    val slices: Seq[Seq[StreamImport.Rec]] = Seq(
      arrival0.slice(0, quarter) ++ sPre,
      sRest ++ arrival0.slice(quarter, 2 * quarter),
      arrival0.slice(2 * quarter, 3 * quarter),
      arrival0.slice(3 * quarter, arrival0.length))
    val work = java.nio.file.Files.createTempDirectory("graft_looprestart_").toString
    val inDir = s"$work/in"; val chkDir = s"$work/chk"; val sinkDir = s"$work/sink"
    new java.io.File(inDir).mkdirs()
    val baseMtime = System.currentTimeMillis()
    def js(x: StreamImport.Rec): String =
      s"""{"event_id":${x.event_id},"ts_ms":${x.ts_ms},"user_id":${x.user_id},""" +
        s""""event_type":"${x.event_type}","value":${x.value},"k":${x.k}}"""
    def writeSlice(i: Int): Unit = {
      val stage = s"$work/stage$i"
      slices(i - 1).map(js).toDF("value").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.endsWith(".parquet") && f.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"slice$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // deterministic arrival order for the file source's mtime sort
      dst.setLastModified(baseMtime + i * 60000L)
    }
    (1 to 3).foreach(writeSlice) // the pre-crash backlog
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    val valueSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType)))
    def start(maxFilesPerTrigger: Option[Int],
        trigger: org.apache.spark.sql.streaming.Trigger) = {
      var reader = spark.readStream.schema(valueSchema)
      maxFilesPerTrigger.foreach(n =>
        reader = reader.option("maxFilesPerTrigger", n.toString))
      StreamImport.importLoop(reader.parquet(inDir))
        .writeStream.outputMode("append")
        .option("checkpointLocation", chkDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
        }
        .trigger(trigger)
        .start()
    }
    // run 1: one file per micro-batch, 60 s between triggers — the
    // stop lands after batch 1 commits and before batch 2 can start
    val q1 = start(Some(1),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("60 seconds"))
    val deadline = System.currentTimeMillis() + 120000L
    while (q1.recentProgress.map(_.numInputRows).sum == 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(q1.recentProgress.map(_.numInputRows).sum > 0,
      "run 1 never committed a micro-batch")
    q1.stop(); q1.awaitTermination() // the mid-backlog kill
    writeSlice(4) // arrives only after the crash
    // run 2: fresh query, same checkpoint — drains everything left
    val q2 = start(None, org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination()
    val got = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*").collect()
      .map(w => w.getAs[Long]("transfer_key") -> w.toSeq).toMap
    val fold = StreamImport.transferFold
    val byUser = (regular ++ sPre ++ sRest).groupBy(_.user_id)
    assert(got.keySet == byUser.keySet,
      s"restarted loop lost/invented keys: got=${got.keySet.size} want=${byUser.keySet.size}")
    byUser.foreach { case (u, rs) =>
      val want = fold.render(u,
        rs.foldLeft(fold.empty)(fold.step)).head.productIterator.toSeq
      assert(got(u) == want, s"user $u: restarted-loop=${got(u)} direct=$want")
    }
  }

  test("import_loop over many horizons: one state operator evicts, orphans never sink, every other key is exact") {
    // Event time spans 48 h in 2 h micro-batches, far past the loop's
    // 2 h watermark + 1 h horizon and the 24 h associated-key marker,
    // so every eviction path runs: orphan removal, associated-key
    // eviction to a marker, a post-marker burst with no signup, and
    // marker expiry.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1704067200000L
    val min = 60000L
    val hour = 60 * min
    def js(x: Rec): String =
      s"""{"event_id":${x.event_id},"ts_ms":${x.ts_ms},"user_id":${x.user_id},""" +
        s""""event_type":"${x.event_type}","value":${x.value},"k":${x.k}}"""
    // 88 regular instances, one every 30 min: signup, then four records
    // within 20 min
    val regular = (0L until 88L).flatMap { j =>
      val u = 100 + j
      val base = t0 + j * 30 * min
      Seq(mkRec(u * 10, base + min, u, "signup"),
        mkRec(u * 10 + 1, base + 5 * min, u, "click", value = j + 0.25),
        mkRec(u * 10 + 2, base + 10 * min, u, "purchase", value = j * 2.5),
        mkRec(u * 10 + 3, base + 15 * min, u, "view"),
        mkRec(u * 10 + 4, base + 20 * min, u, "error", k = 80 + j % 20))
    }
    // (i) the signup arrives a batch after the instance's activity
    val lateSignupPre = Seq(mkRec(10, t0 + 6 * hour + 10 * min, 1, "click", value = 3.5),
      mkRec(11, t0 + 6 * hour + 20 * min, 1, "purchase", value = 12.0))
    val lateSignup = Seq(mkRec(12, t0 + 8 * hour + 20 * min, 1, "signup"))
    // (ii) an orphan: its association never arrives
    val orphan = Seq(mkRec(20, t0 + 10 * hour, 2, "click", value = 1.0),
      mkRec(21, t0 + 10 * hour + min, 2, "purchase", value = 4.0))
    // (iii) associated, idle past watermark + horizon, then a burst
    // with no signup
    val idleFirst = Seq(mkRec(30, t0 + 12 * hour, 3, "signup"),
      mkRec(31, t0 + 12 * hour + min, 3, "purchase", value = 25.0))
    val idleBurst = Seq(mkRec(32, t0 + 20 * hour, 3, "click", value = 7.0),
      mkRec(33, t0 + 20 * hour + min, 3, "click", value = 9.0))
    // (iv) more than 1 000 records before the signup
    val manyPre = (0 until 1200).map(i =>
      mkRec(100000L + i, t0 + 24 * hour + i * 1000L, 4, "click", value = i * 0.5))
    val manySignup = Seq(mkRec(99999, t0 + 24 * hour + 30 * min, 4, "signup"))
    val batches = (0 until 24).map { b =>
      val from = t0 + b * 2 * hour
      regular.filter(r => r.ts_ms >= from && r.ts_ms < from + 2 * hour) ++
        (b match {
          case 3 => lateSignupPre
          case 4 => lateSignup
          case 5 => orphan
          case 6 => idleFirst
          case 10 => idleBurst
          case 12 => manyPre
          case 13 => manySignup
          case _ => Nil
        })
    }
    val all = batches.flatten
    val instances = all.map(_.user_id).distinct.size
    val stream = MemoryStream[String]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_loophz_").toString + "/t"
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    val q = StreamImport.importLoop(stream.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_loophzchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
      }
      .start()
    val ops = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long)]]
    batches.foreach { rs =>
      stream.addData(rs.map(js))
      q.processAllAvailable()
      q.recentProgress.foreach(p => ops(p.batchId) =
        p.stateOperators.toSeq.map(o => (o.numRowsTotal, o.numRowsRemoved)))
    }
    q.stop()
    assert(ops.values.forall(_.length == 1), "the loop must run ONE state operator")
    val removed = ops.values.map(_.head._2).sum
    val maxRows = ops.values.map(_.head._1).max
    assert(removed > 0, "the loop's state operator removed nothing")
    assert(maxRows < instances,
      s"state peaked at $maxRows rows for $instances instances — eviction is not bounding it")
    val got = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*").collect()
      .map(w => w.getAs[Long]("transfer_key") -> w.toSeq).toMap
    val byUser = all.groupBy(_.user_id) - 2L
    assert(!got.contains(2L), "the orphan reached the sink")
    assert(got.keySet == byUser.keySet,
      s"missing=${byUser.keySet -- got.keySet} extra=${got.keySet -- byUser.keySet}")
    val fold = StreamImport.transferFold
    byUser.foreach { case (u, rs) =>
      val want = fold.render(u, rs.foldLeft(fold.empty)(fold.step)).head.productIterator.toSeq
      assert(got(u) == want, s"user $u: loop=${got(u)} direct=$want")
    }
  }

  test("stream_join: cross-batch matches surface from buffered state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(_.event_id)
    val stream = MemoryStream[Rec]
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = StreamImport.joinStream(stream.toDF(), "inner")
      .select("click_id", "purchase_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_joinchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(r => (r.getLong(0), r.getLong(1))); ()
      }
      .start()
    // many chunks: matching click/purchase pairs frequently straddle a
    // batch boundary, so the join must come out of buffered state
    recs.grouped(math.max(recs.length / 8, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val expected = {
      val e = Tables.events(spark, sfDir)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cu"), col("ts_ms").as("cts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts_ms").as("pts"))
      c.join(p, col("cu") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + 3600000L)
        .select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(expected.nonEmpty)
    assert(got.toSet == expected,
      s"missing=${expected -- got} extra=${got.toSet -- expected}")
  }

  test("stream_sessionize: sessions grow across event-time-ordered micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id)) // event-time order: sessions only extend
    val stream = MemoryStream[Rec]
    @volatile var latest: Array[(Long, Long, Long, Long)] = Array.empty
    val q = StreamImport.sessionizeStream(stream.toDF())
      .writeStream.outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_sesschk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        latest = b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      .start()
    recs.grouped(math.max(recs.length / 5, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val batch = Tables.events(spark, sfDir)
      .withColumn("prev", lag(col("ts_ms"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ts_ms") - col("prev") > 1800000L, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("user_id", "sid")
      .agg(min("ts_ms").as("s"), max("ts_ms").as("e"),
        count(lit(1)).cast("long").as("n"))
      .select("user_id", "s", "e", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(latest.nonEmpty)
    assert(latest.sorted.sameElements(batch.sorted),
      s"sessions diverge: stream=${latest.length} batch=${batch.length}")
  }

  test("stream_sessionize APPEND mode: closed sessions emit once, match batch, state evicts") {
    // the production path the scaladoc promises: append mode + the
    // stream's 1 h watermark as the closing grace period. A session
    // emits exactly ONCE, after the watermark passes its close — so
    // the sink needs no retraction — and its row equals the batch
    // sessionization. A far-future flush record stands in for the
    // stream outliving the grace horizon.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id)) // event-time order: sessions only extend
    val flushUser = 999999999L
    val flushTs = recs.map(_.ts_ms).max + 10L * 24 * 3600 * 1000
    val stream = MemoryStream[Rec]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = StreamImport.sessionizeStream(stream.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_sessapp_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted ++= b.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }
      .start()
    recs.grouped(math.max(recs.length / 5, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    // the flush advances the watermark past every real session's
    // close + grace, releasing the append-mode holdback
    stream.addData(mkRec(1L << 40, flushTs, flushUser, "click"))
    q.processAllAvailable()
    // one more empty-ish batch so the last watermark takes effect
    stream.addData(mkRec((1L << 40) + 1, flushTs + 1000, flushUser, "click"))
    q.processAllAvailable()
    // closed-session state is evicted: only the flush user's open
    // session may remain
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    assert(stateRows <= 2, s"closed sessions were not evicted: $stateRows state rows")
    q.stop()
    val real = emitted.filter(_._1 != flushUser)
    // append contract: each (user, session_start) emitted exactly once
    assert(real.map(e => (e._1, e._2)).distinct.length == real.length,
      "append mode re-emitted a session")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val batch = Tables.events(spark, sfDir)
      .withColumn("prev", lag(col("ts_ms"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ts_ms") - col("prev") > 1800000L, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(w))
      .groupBy("user_id", "sid")
      .agg(min("ts_ms").as("s"), max("ts_ms").as("e"),
        count(lit(1)).cast("long").as("n"))
      .select("user_id", "s", "e", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(real.nonEmpty)
    assert(real.sorted.toSeq == batch.sorted.toSeq,
      s"append sessions diverge: stream=${real.length} batch=${batch.length}")
  }

  test("stream_dedup over micro-batches equals batch DISTINCT") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // event-time order: no row is late, while keys expire behind the
    // gate's horizon and re-emit — the keyed sink collapses them
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id))
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_dedup_").toString + "/t"
    val q = StreamImport.dedupStream(stream.toDF(), StreamImport.FoldWatermark)
      .withColumn("dedup_key", concat(col("user_id"), lit("_"), col("event_type")))
      .withColumn("tenant", concat(lit("t"), col("user_id") % 10))
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_dedupchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "dedup_key")
      }
      .start()
    recs.grouped(math.max(recs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("user_id", "event_type").orderBy("user_id", "event_type").collect()
    val batch = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s.toSeq == b.toSeq) }
  }

  test("bounded-state dedup: horizon expiry re-emits, keyed sink collapses it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_dedupw_").toString + "/t"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val t0 = 1700000000000L
    val q = StreamImport.dedupStream(stream.toDF(), "5 minutes")
      .withColumn("dedup_key", concat(col("user_id"), lit("_"), col("event_type")))
      .withColumn("tenant", concat(lit("t"), col("user_id") % 10))
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_dedupwchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted ++= b.select("user_id", "event_type").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        TenantUpsertSink.upsert(sinkDir, b, "dedup_key")
      }
      .start()
    def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
    feed(mkRec(1, t0, 1, "click"))                       // first write: emitted
    feed(mkRec(2, t0 + 60000, 1, "click"),               // dup within horizon: dropped
      mkRec(3, t0 + 60000, 2, "view"))                   // new key: emitted
    feed(mkRec(4, t0 + 7200000, 3, "error"))             // advances the watermark 2h
    feed(mkRec(5, t0 + 7200000, 1, "click"))             // state expired: RE-emitted
    q.stop()
    assert(emitted.count(_ == (1L, "click")) == 2,
      s"expected the expired key to re-emit once, got $emitted")
    // the keyed idempotent sink absorbs the re-emission: exactly one
    // row per distinct key survives end-to-end
    val rows = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("user_id", "event_type").orderBy("user_id", "event_type").collect()
    assert(rows.map(_.toSeq).toSeq ==
      Seq(Seq(1L, "click"), Seq(2L, "view"), Seq(3L, "error")))
  }

  test("bounded stream_import: watermark-passed keys evict; a late record cannot corrupt the sunk row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000L
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_bnd_").toString + "/t"
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    val q = StreamImport.entityStream(stream.toDF(), StreamImport.transferFold) // production defaults
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_bndchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
      }
      .start()
    def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    def key1Row(): Seq[Any] = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*")
      .filter(col("transfer_key") === 1)
      .select("started_ms", "completed_ms", "amount", "status", "n_events")
      .collect().map(_.toSeq).toSeq.flatten
    // key 1 COMPLETES (signup + purchase) and lands in the sink
    feed(mkRec(1, t0, 1, "signup"), mkRec(2, t0 + 1000, 1, "purchase", value = 25.0))
    val settled = key1Row()
    assert(settled == Seq(t0, t0 + 1000, "25.00", "COMPLETED", 2L), s"got $settled")
    // another key 3 h later pushes the watermark past key 1's idle
    // horizon (30 min delay + 1 h eviction); the NEXT batch runs with
    // that watermark and key 1's state is REMOVED
    feed(mkRec(3, t0 + 3 * 3600 * 1000L, 2, "signup"))
    feed(mkRec(4, t0 + 3 * 3600 * 1000L + 1000, 2, "click"))
    assert(stateRows == 1, s"expected key 1 evicted, state holds $stateRows rows")
    // a LATE record for the evicted key (behind the watermark) is
    // dropped BEFORE the fold: state is not resurrected from an empty
    // accumulator and the sunk COMPLETED row survives untouched
    feed(mkRec(5, t0 + 2000, 1, "click", value = 99.0))
    assert(stateRows == 1, "late record resurrected the evicted key's state")
    assert(key1Row() == settled, "late record corrupted the sunk row")
    q.stop()
  }

  test("bounded stream_import: a NON-late record after idle eviction EXTENDS the sunk row (incarnation merge)") {
    // the read-modify-write hole: key 1 completes and is evicted after
    // an idle gap (other keys advance the watermark); a perfectly
    // in-order record for key 1 then arrives AHEAD of the watermark.
    // The restarted fold knows nothing of the sunk row — the sink's
    // incarnation merge must fold the old contribution back in instead
    // of letting the partial restart overwrite COMPLETED with
    // IN_PROGRESS / n_events=1 (the reference survives this via
    // findByWorkflowInstanceKey on cache miss).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000L
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_inc_").toString + "/t"
    val merge = StreamImport.foldMerge(StreamImport.transferFold)
    val q = StreamImport.entityStream(stream.toDF(), StreamImport.transferFold)
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_incchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "entity_key", Some(merge))
      }
      .start()
    def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    def key1Row(): Seq[Any] = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select(explode(col("rows")).as("r")).select("r.*")
      .filter(col("transfer_key") === 1)
      .select("started_ms", "completed_ms", "amount", "last_click_value", "status", "n_events")
      .collect().map(_.toSeq).toSeq.flatten
    feed(mkRec(1, t0, 1, "signup"), mkRec(2, t0 + 1000, 1, "purchase", value = 25.0))
    assert(key1Row() == Seq(t0, t0 + 1000, "25.00", "", "COMPLETED", 2L))
    // key 2's events push the watermark past key 1's idle horizon
    val t1 = t0 + 3 * 3600 * 1000L
    feed(mkRec(3, t1, 2, "signup"))
    feed(mkRec(4, t1 + 1000, 2, "click"))
    assert(stateRows == 1, s"expected key 1 evicted, state holds $stateRows rows")
    // a NON-late click for key 1 (ahead of the watermark) restarts the
    // fold as a fresh incarnation; the sink merge extends the sunk row
    feed(mkRec(5, t1 + 2000, 1, "click", value = 7.0))
    assert(stateRows == 2, "the non-late record must restart key 1's state")
    // the sunk row is EXTENDED: click landed (last_click 7.00, n=3),
    // everything the first incarnation folded survives (started,
    // completed, amount, COMPLETED status)
    val got = key1Row()
    assert(got == Seq(t0, t0 + 1000, "25.00", "7.00", "COMPLETED", 3L),
      s"incarnation merge lost data: $got")
    q.stop()
  }

  test("merging sink: replaying a micro-batch is a no-op (crash idempotence of the incarnation merge)") {
    // foreachBatch bodies re-run after a crash; the merge's
    // closed-absorption must key on incarnation IDENTITY so a replay
    // re-derives the identical row instead of double-counting
    import spark.implicits._
    import StreamImport.{SinkRow, St, TransferRow}
    val spec = StreamImport.transferFold
    val merge = StreamImport.foldMerge(spec)
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_").toString + "/t"
    val t0 = 1700000000000L
    def sinkRow(incTs: Long, incId: Long, recs: Seq[Rec]): SinkRow[TransferRow, St] = {
      val st = recs.foldLeft(spec.empty)(spec.step)
      SinkRow(1L, "t1", spec.render(1L, st), incTs, incId, st, None)
    }
    def current(): Seq[Seq[Any]] = TenantUpsertSink.readCurrent(spark, dir).get
      .select(explode(col("rows")).as("r")).select("r.*")
      .select("started_ms", "completed_ms", "amount", "last_click_value", "status", "n_events")
      .collect().map(_.toSeq).toSeq
    // incarnation A: signup + purchase (COMPLETED, n=2)
    val a = Seq(sinkRow(t0, 1L,
      Seq(mkRec(1, t0, 1, "signup"), mkRec(2, t0 + 1000, 1, "purchase", value = 25.0)))).toDF()
    TenantUpsertSink.upsert(dir, a, "entity_key", Some(merge))
    val afterA = current()
    TenantUpsertSink.upsert(dir, a, "entity_key", Some(merge)) // replay A
    assert(current() == afterA, "replaying incarnation A changed the sunk row")
    // incarnation B (post-eviction restart): one click
    val b = Seq(sinkRow(t0 + 7200000, 5L,
      Seq(mkRec(5, t0 + 7200000, 1, "click", value = 7.0)))).toDF()
    TenantUpsertSink.upsert(dir, b, "entity_key", Some(merge))
    val merged = current()
    assert(merged == Seq(Seq(t0, t0 + 1000, "25.00", "7.00", "COMPLETED", 3L)),
      s"merge across incarnations wrong: $merged")
    TenantUpsertSink.upsert(dir, b, "entity_key", Some(merge)) // replay B
    assert(current() == merged, "replaying incarnation B double-counted the closed state")
    // and a cumulative continuation of B (state grew) replaces open,
    // keeps closed — still exact
    val b2 = Seq(sinkRow(t0 + 7200000, 5L,
      Seq(mkRec(5, t0 + 7200000, 1, "click", value = 7.0),
        mkRec(6, t0 + 7201000, 1, "click", value = 9.0)))).toDF()
    TenantUpsertSink.upsert(dir, b2, "entity_key", Some(merge))
    assert(current() == Seq(Seq(t0, t0 + 1000, "25.00", "9.00", "COMPLETED", 4L)))
  }

  test("bounded folds with a tiny horizon: eviction + incarnation merge stay EXACT vs the batch entity") {
    // in-order arrival, watermark delay 0, horizon 60 s: most keys
    // evict and restart several times across the corpus. The final
    // sink table must STILL equal the batch fold — eviction is
    // invisible downstream because the sink merge reunites every
    // incarnation's contribution.
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id))
    // evictions triggered by the final chunk's watermark need one more
    // (empty-data) batch to fire; harmless for the assertion
    def run[S <: Product : TypeTag, O <: Product : TypeTag](
        spec: StreamImport.EntityFold[S, O]): DataFrame =
      foldedRows(spec, recs.grouped(math.max(recs.length / 6, 1)).map(_.toSeq),
        watermark = "0 seconds", horizonMs = 60000L)
    // transfers: min/max/sum/or + last-write click
    val streamed = run(StreamImport.transferFold)
      .select("transfer_key", "tenant", "started_ms", "completed_ms",
        "amount", "last_click_value", "status", "n_events")
      .orderBy("transfer_key").collect()
    val batch = ImporterCore.impEntityTransfers(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"key ${s.get(0)}: stream=${s.toSeq} batch=${b.toSeq}")
    }
    // top-n: the selection monoid must reunite boards split across
    // incarnations (top entries arrive in ts order, not value order)
    val topStreamed = run(StreamImport.topnFold)
      .select("user_id", "rnk", "event_id", "event_type")
      .orderBy("user_id", "rnk").collect()
    val topBatch = graft.operators.Analytics.qWindowTopN(spark, sfDir).collect()
    assert(topStreamed.length == topBatch.length && topStreamed.nonEmpty)
    topStreamed.zip(topBatch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"stream=${s.toSeq} batch=${b.toSeq}")
    }
    // wide: the deepest state (nested mark structs) — this drives the
    // SinkRow[WideRow, WideSt] encoder through the parquet roundtrip
    // AND the joinWith merge across incarnations
    val wideCols = Seq("transfer_key", "payer_party_id", "payer_id_type",
      "payee_party_id", "payee_id_type", "amount", "currency",
      "transaction_id", "payer_dfsp_id", "payee_dfsp_id",
      "completed_ms", "transfer_state",
      "payer_fee", "payer_fee_currency", "payer_quote_code",
      "payee_fee", "payee_fee_currency", "payee_quote_code",
      "error_information", "status")
    val wideStreamed = run(StreamImport.wideFold)
      .select(wideCols.map(col): _*).orderBy("transfer_key").collect()
    val wideBatch = ImporterCore.impEntityWide(spark, sfDir)
      .select(wideCols.map(col): _*).collect()
    assert(wideStreamed.length == wideBatch.length && wideStreamed.nonEmpty)
    wideStreamed.zip(wideBatch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"key ${s.get(0)}: stream=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("bounded keyed folds: txnreq/batches/wide/topn evict watermark-passed keys too") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000L
    val builders = Seq[(String, DataFrame => DataFrame)](
      "txnreq" -> (df => StreamImport.entityStream(df, StreamImport.txnreqFold)),
      "batches" -> (df => StreamImport.entityStream(df, StreamImport.batchFold)),
      "wide" -> (df => StreamImport.entityStream(df, StreamImport.wideFold)),
      "topn" -> (df => StreamImport.entityStream(df, StreamImport.topnFold)))
    for ((name, build) <- builders) {
      val stream = MemoryStream[Rec]
      val q = build(stream.toDF())
        .writeStream.outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft_bnd_${name}_").toString)
        // the batch must be MATERIALIZED or the state stores never
        // load/commit (Spark 4 validates per-batch store commits)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.count(); () }
        .start()
      def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
      feed(mkRec(1, t0, 1, "signup"), mkRec(2, t0 + 1000, 1, "purchase", value = 5.0))
      feed(mkRec(3, t0 + 3 * 3600 * 1000L, 2, "signup"))
      feed(mkRec(4, t0 + 3 * 3600 * 1000L + 1000, 2, "view"))
      val rows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(rows == 1, s"$name: expected key 1 evicted, state holds $rows rows")
      // and a late record cannot resurrect it
      feed(mkRec(5, t0 + 2000, 1, "view"))
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      assert(after == 1, s"$name: late record resurrected the evicted key")
      q.stop()
    }
  }

  test("stream_topn: displaced leaderboard entries are overwritten across micro-batches") {
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    // adversarial order: later chunks must DISPLACE earlier top rows —
    // the merging sink re-renders a user's whole board per batch
    val shuffled = new scala.util.Random(13).shuffle(recs.toVector)
    val streamed = foldedRows(StreamImport.topnFold,
      shuffled.grouped(math.max(shuffled.length / 4, 1)))
      .select("user_id", "rnk", "event_id", "event_type")
      .orderBy("user_id", "rnk").collect()
    val batch = graft.operators.Analytics.qWindowTopN(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_ann: probes across adversarial micro-batches equal the batch LSH search") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val corpusIdx = graft.Scratch.cp(
      VectorOps.bucketKeysPlan(VectorOps.quantizePlan(emb.filter(col("vec_id") % 10 =!= 7)))
        .select(col("vec_id").as("n_id"), col("q").as("nq"), col("n2").as("nn2"),
          col("band_idx"), col("bucket")))
    val probeRows = emb.filter(col("vec_id") % 10 === 7)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // adversarial order: a later chunk's probe must not disturb earlier
    // probes' folded top lists, and a probe split ACROSS chunks must
    // still converge to its full top-k (idempotent distinct-pair merge)
    val shuffled = new scala.util.Random(17).shuffle(probeRows.toVector)
    val stream = MemoryStream[(Long, Array[Float])]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_ann_").toString + "/t"
    val probes = VectorOps.quantizePlan(stream.toDF().toDF("vec_id", "embedding"))
    val q = StreamImport.annStream(probes, corpusIdx)
      .withColumn("akey", concat_ws("_", col("q_id"), col("rnk")))
      .withColumn("tenant", concat(lit("t"), col("q_id") % 10))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_annchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "akey")
      }
      .start()
    shuffled.grouped(math.max(shuffled.length / 4, 1)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("q_id", "rnk", "n_id", "score_e6").orderBy("q_id", "rnk").collect()
    // batch reference: same probes, same static index, distinct
    // candidates, exact top-k — what the gate's DuckDB oracle renders
    val probesB = VectorOps.bucketKeysPlan(
      VectorOps.quantizePlan(emb.filter(col("vec_id") % 10 === 7)))
    val candsB = probesB.join(corpusIdx, Seq("band_idx", "bucket"))
      .select(col("vec_id").as("q_id"), col("n_id"),
        expr(VectorOps.streamAnnScore).as("score_e6")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("score_e6").desc, col("n_id"))
    val batch = candsB.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= VectorOps.StreamAnnK)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("n_id"), col("score_e6"))
      .orderBy("q_id", "rnk").collect()
    graft.Scratch.free(corpusIdx)
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_hll: registers maintained across micro-batches equal the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    // adversarial order: register-wise max must be arrival-insensitive
    val shuffled = new scala.util.Random(11).shuffle(recs.toVector)
    val stream = MemoryStream[StreamImport.Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_hll_").toString + "/t"
    val q = StreamImport.hllStream(stream.toDF())
      .withColumn("rkey", concat(col("event_type"), lit("_"), col("bucket")))
      .withColumn("tenant", col("event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_hllchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "rkey")
      }
      .start()
    shuffled.grouped(math.max(shuffled.length / 4, 1)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("event_type", "bucket", "max_rho")
      .orderBy("event_type", "bucket").collect()
    val batch = graft.operators.ApproxOps.sketchHll(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
    // the state the stream holds is register-bounded, not key-bounded
    val types = Tables.events(spark, sfDir).select("event_type").distinct().count()
    assert(streamed.length <= types * graft.operators.ApproxOps.HllBuckets)
  }

  test("stream_cms: counter table maintained across adversarial micro-batches equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    // adversarial order: counter-wise sum must be arrival-insensitive
    val shuffled = new scala.util.Random(17).shuffle(recs.toVector)
    val stream = MemoryStream[StreamImport.Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_cms_").toString + "/t"
    val q = StreamImport.cmsStream(stream.toDF())
      .withColumn("ckey",
        concat_ws("_", col("event_type"), col("row_i"), col("col_i")))
      .withColumn("tenant", col("event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cmschk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "ckey")
      }
      .start()
    shuffled.grouped(math.max(shuffled.length / 4, 1)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    // CONSTANT state: bounded by groups × depth × width counters,
    // never by input or key cardinality
    val types = Tables.events(spark, sfDir).select("event_type").distinct().count()
    assert(q.lastProgress.stateOperators(0).numRowsTotal <=
      types * graft.operators.ApproxOps.CmsDepth * graft.operators.ApproxOps.CmsWidth,
      "cms state must stay within the fixed counter-table geometry")
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("event_type", "row_i", "col_i", "cnt")
      .orderBy("event_type", "row_i", "col_i").collect()
    val batch = graft.operators.ApproxOps.sketchCms(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_bloom: bitmap maintained across adversarial micro-batches equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    // adversarial order: word-wise OR must be arrival-insensitive AND
    // idempotent (replayed rows change nothing)
    val shuffled = new scala.util.Random(19).shuffle(recs.toVector)
    val stream = MemoryStream[StreamImport.Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_bloom_").toString + "/t"
    val q = StreamImport.bloomStream(stream.toDF())
      .withColumn("bkey", concat_ws("_", col("event_type"), col("word_idx")))
      .withColumn("tenant", col("event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_bloomchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "bkey")
      }
      .start()
    shuffled.grouped(math.max(shuffled.length / 4, 1)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    // CONSTANT state: bounded by groups × bitmap words, never by
    // input or key cardinality
    val types = Tables.events(spark, sfDir).select("event_type").distinct().count()
    assert(q.lastProgress.stateOperators(0).numRowsTotal <=
      types * graft.operators.BloomOps.BloomWords,
      "bloom state must stay within the fixed bitmap geometry")
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("event_type", "word_idx", "bits")
      .orderBy("event_type", "word_idx").collect()
    val batch = graft.operators.BloomOps.sketchBloom(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_quantile: bin table maintained across adversarial micro-batches derives the batch percentiles") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    val shuffled = new scala.util.Random(23).shuffle(recs.toVector)
    val stream = MemoryStream[StreamImport.Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_quant_").toString + "/t"
    val q = graft.operators.ApproxOps.quantileHist(stream.toDF())
      .withColumn("qkey", concat_ws("_", col("event_type"), col("v").cast("string")))
      .withColumn("tenant", col("event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_quantchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "qkey")
      }
      .start()
    shuffled.grouped(math.max(shuffled.length / 4, 1)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    // state bounded by the VALUE DOMAIN (distinct (group, e2 bin)),
    // not the stream length. The progress metric reports exactly 2×
    // the live keys for this update-mode aggregation (observed
    // 2 × 991 bins — the aggregation's restore/save store pair), so
    // the domain bound is metric-scaled by 2.
    val bins = graft.operators.ApproxOps.quantileHist(
      Tables.events(spark, sfDir)).count()
    assert(q.lastProgress.stateOperators(0).numRowsTotal <= 2 * bins,
      "quantile state must stay within the bin domain")
    q.stop()
    val streamed = graft.operators.ApproxOps.quantileFromHist(
      TenantUpsertSink.readCurrent(spark, sinkDir).get
        .select("event_type", "v", "cnt")).collect()
    val batch = graft.operators.ApproxOps.sketchQuantile(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_minhash_inc: the streamed delta answers the batch incremental detector row-for-row") {
    val streamed = StreamImport.runMinhashIncToCompletion(spark, sfDir).collect()
    val batch = graft.operators.TextOps.dedupIncremental(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_substring_inc: the streamed delta answers the batch incremental detector row-for-row") {
    // the production shape (arrivals stream in, corpus is a static
    // precomputed index) must reproduce the batch plan exactly —
    // both answer ONE oracle, so any drift in the shared window
    // derivation or the join/fold semantics fails here first
    val streamed = StreamImport.runSubstringIncToCompletion(spark, sfDir)
      .collect()
    val batch = graft.operators.TextOps.dedupSubstringInc(spark, sfDir)
      .collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_pack: per-shard carry across ordered micro-batches equals the batch packer bin-for-bin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // packing is a prefix sum — order-DEPENDENT by nature, so the
    // contract is id-ordered arrival per shard; feed the corpus in
    // five id-ordered chunks and the carry state must reproduce the
    // batch window's cumsum exactly across every chunk boundary
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val stream = MemoryStream[(Long, String)]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_pack_").toString + "/t"
    val q = StreamImport.packStream(
        stream.toDF().toDF("doc_id", "text")).toDF()
      .withColumn("dkey", col("doc_id").cast("string"))
      .withColumn("tenant", concat(lit("t"), col("shard")))
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_packchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "dkey")
      }
      .start()
    docs.grouped(math.max(docs.length / 5, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    // CONSTANT state: one carry long per shard, forever
    assert(q.lastProgress.stateOperators(0).numRowsTotal <=
      graft.operators.TrainOps.PackShards,
      "pack state must be one carry row per shard")
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("doc_id", "shard", "tok", "tok_before", "bin")
      .orderBy("doc_id").collect()
    val batch = graft.operators.TrainOps.pipePack(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_kmv: bottom-k sketch maintained across adversarial micro-batches equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
    // adversarial order: the bottom-k monoid must be arrival-insensitive
    val shuffled = new scala.util.Random(23).shuffle(recs.toVector)
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_kmv_").toString + "/t"
    val q = StreamImport.kmvStream(stream.toDF())
      .withColumn("kkey", concat(col("event_type"), lit("_"), col("rnk")))
      .withColumn("tenant", col("event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_kmvchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "kkey")
      }
      .start()
    shuffled.grouped(math.max(shuffled.length / 4, 1)).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    // CONSTANT state: ≤ one row (a ≤k-entry sketch) per group
    val types = Tables.events(spark, sfDir).select("event_type").distinct().count()
    assert(q.lastProgress.stateOperators(0).numRowsTotal <= types,
      "kmv state must be one bounded sketch row per group")
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("event_type", "rnk", "h")
      .orderBy("event_type", "rnk").collect()
    val batch = graft.operators.ApproxOps.sketchKmv(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.toSeq == b.toSeq, s"streaming=${s.toSeq} batch=${b.toSeq}")
    }
  }

  test("stream_window over micro-batches equals the batch hour buckets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // event-time order: no row is late, while windows close behind the
    // gate's horizon
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect()
      .sortBy(r => (r.ts_ms, r.event_id))
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_win_").toString + "/t"
    val q = StreamImport.windowStream(stream.toDF(), StreamImport.FoldWatermark)
      .select(col("event_type"),
        expr("unix_millis(window.start) div 3600000").as("window_h"),
        col("n"), graft.functions.Portable.moneyStr(col("sv")).as("sum_value"))
      .withColumn("wkey", concat(col("event_type"), lit("_"), col("window_h")))
      .withColumn("tenant", col("event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_winchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TenantUpsertSink.upsert(sinkDir, b, "wkey")
      }
      .start()
    recs.grouped(math.max(recs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = TenantUpsertSink.readCurrent(spark, sinkDir).get
      .select("event_type", "window_h", "n", "sum_value")
      .orderBy("event_type", "window_h").collect()
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("ts_ms div 3600000").as("window_h"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.functions.Portable.moneyStr(
          sum(graft.functions.Portable.dec2(col("value")))).as("sum_value"))
      .orderBy("event_type", "window_h").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s.toSeq == b.toSeq) }
  }

  test("bounded-state window agg: rows later than the watermark horizon are dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Rec]
    val out = scala.collection.mutable.Map.empty[(String, Long), (Long, String)]
    val t0 = 1700000000000L // window-aligned enough: any fixed epoch
    val q = StreamImport.windowStream(stream.toDF(), "30 minutes")
      .select(col("event_type"),
        expr("unix_millis(window.start) div 3600000").as("window_h"),
        col("n"), graft.functions.Portable.moneyStr(col("sv")).as("sum_value"))
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_winwchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out((r.getString(0), r.getLong(1))) =
          (r.getAs[Long]("n"), r.getAs[String]("sum_value")))
      }
      .start()
    def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
    feed(mkRec(1, t0, 1, "click", value = 10.0))
    // advance the watermark far past t0's window + horizon
    feed(mkRec(2, t0 + 4 * 3600000, 2, "click", value = 1.0))
    // late arrival for the EVICTED window: dropped, aggregate unchanged
    feed(mkRec(3, t0 + 1000, 3, "click", value = 99.0))
    q.stop()
    val h0 = (t0 / 3600000)
    assert(out(("click", h0)) == ((1L, "10.00")),
      s"late row must be dropped by the watermark, got ${out(("click", h0))}")
  }

  test("upsert sink: latest batch wins per key, tenant partitions routed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert2_").toString + "/t"
    val b1 = Seq((1L, "t1", "v1"), (2L, "t2", "v1")).toDF("transfer_key", "tenant", "payload")
    val b2 = Seq((2L, "t2", "v2"), (3L, "t3", "v1")).toDF("transfer_key", "tenant", "payload")
    TenantUpsertSink.upsert(dir, b1, "transfer_key")
    // snapshot tenant t1's files: b2 does not touch t1, so the
    // partition-pruned rewrite must leave these EXACT files in place
    def tenantFiles(t: String): Map[String, Seq[Byte]] = {
      // manifest keys are bucket-granular: "<tenant>/_bucket=N=gen";
      // collect every bucket dir of the tenant
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_CURRENT"))).linesIterator
        .map { l => val i = l.lastIndexOf('='); l.substring(0, i) -> l.substring(i + 1) }.toMap
      manifest.collect { case (tb, gen) if tb.startsWith(s"$t/") =>
        val pdir = new java.io.File(dir, s"$gen/tenant=$tb")
        pdir.listFiles().filter(_.getName.endsWith(".parquet")).map(f =>
          f.getAbsolutePath -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      }.flatten.toMap
    }
    val t1Before = tenantFiles("t1")
    assert(t1Before.nonEmpty)
    TenantUpsertSink.upsert(dir, b2, "transfer_key")
    assert(tenantFiles("t1") == t1Before,
      "untouched tenant t1 was rewritten by an upsert that never mentioned it")
    val out = TenantUpsertSink.readCurrent(spark, dir).get.orderBy("transfer_key")
      .collect().map(r => (r.getAs[Long]("transfer_key"), r.getAs[String]("payload")))
    assert(out.toSeq == Seq((1L, "v1"), (2L, "v2"), (3L, "v1")))
    // partition routing on disk (inside the current generation dir)
    val gens = new java.io.File(dir).listFiles().filter(_.getName.startsWith("gen-"))
    assert(gens.nonEmpty && gens.exists(_.listFiles().exists(_.getName == "tenant=t2")))
    // idempotency: re-applying b2 changes nothing
    TenantUpsertSink.upsert(dir, b2, "transfer_key")
    assert(TenantUpsertSink.readCurrent(spark, dir).get.count() == 3)
    // crash safety: a leftover staging generation without a pointer
    // swing must not corrupt reads (pointer still names a valid gen)
    new java.io.File(dir, "gen-9999999999999999999").mkdirs()
    assert(TenantUpsertSink.readCurrent(spark, dir).get.count() == 3)
    // BUCKET granularity (the round-6 watch item), in its own table —
    // the bucket count is fixed per table lifetime: load one tenant
    // with keys across 16 buckets, then touch a single key — the
    // other buckets' files must survive byte-identical at their OLD
    // paths (their manifest entries still point at the old gen)
    val bdir = java.nio.file.Files.createTempDirectory("graft_bucket_").toString + "/t"
    def t9Files(): Map[String, Seq[Byte]] = {
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(bdir, "_CURRENT"))).linesIterator
        .map { l => val i = l.lastIndexOf('='); l.substring(0, i) -> l.substring(i + 1) }.toMap
      manifest.collect { case (tb, gen) if tb.startsWith("t9/") =>
        new java.io.File(bdir, s"$gen/tenant=$tb").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(f =>
            f.getAbsolutePath -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      }.flatten.toMap
    }
    val wide = (100L to 131L).map(k => (k, "t9", "w0"))
      .toDF("transfer_key", "tenant", "payload")
    TenantUpsertSink.upsert(bdir, wide, "transfer_key", buckets = 16)
    val before9 = t9Files()
    TenantUpsertSink.upsert(bdir,
      Seq((100L, "t9", "w1")).toDF("transfer_key", "tenant", "payload"),
      "transfer_key", buckets = 16)
    val after9 = t9Files()
    val surviving = before9.count { case (p, bytes) => after9.get(p).contains(bytes) }
    assert(surviving >= before9.size / 2,
      s"touching one key rewrote most of the tenant: $surviving of ${before9.size} files survived")
    assert(surviving < before9.size, "the touched key's own bucket must move")
    val rows = TenantUpsertSink.readCurrent(spark, bdir).get.collect()
      .map(r => r.getAs[Long]("transfer_key") -> r.getAs[String]("payload")).toMap
    assert(rows(100L) == "w1" && rows.size == 32 && rows.count(_._2 == "w0") == 31)
  }

  test("upsert sink: a key arriving under two tenants in one batch fails loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_badten_").toString + "/t"
    val bad = Seq((1L, "t1", "v"), (1L, "t2", "v"), (2L, "t1", "v"))
      .toDF("transfer_key", "tenant", "payload")
    val e = intercept[IllegalArgumentException](
      TenantUpsertSink.upsert(dir, bad, "transfer_key"))
    assert(e.getMessage.contains("stable function"))
    // nothing was written — the contract failed BEFORE any state change
    assert(!new java.io.File(dir, "_CURRENT").exists())
  }

  test("upsert sink: a NULL tenant fails loudly instead of silently skipping the manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullten_").toString + "/t"
    val bad = Seq((1L, Some("t1"), "v"), (2L, None: Option[String], "v"))
      .toDF("transfer_key", "tenant", "payload")
    val e = intercept[IllegalArgumentException](
      TenantUpsertSink.upsert(dir, bad, "transfer_key"))
    assert(e.getMessage.contains("NULL tenant"))
    assert(!new java.io.File(dir, "_CURRENT").exists())
  }

  test("upsert sink: path-hostile tenant values round-trip through partitions and manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_escten_").toString + "/t"
    val hostile = Seq("a/b", "sp ace", "eq=ual", "pc%t", "plain")
    val b1 = hostile.zipWithIndex.map { case (t, i) => (i.toLong, t, "v1") }
      .toDF("transfer_key", "tenant", "payload")
    TenantUpsertSink.upsert(dir, b1, "transfer_key")
    val out1 = TenantUpsertSink.readCurrent(spark, dir).get
      .select("transfer_key", "tenant", "payload").orderBy("transfer_key").collect()
    assert(out1.map(_.getString(1)).toSeq == hostile)
    // a second upsert touching ONE hostile tenant updates it and leaves
    // the others intact (partition-pruned rewrite still works escaped)
    val b2 = Seq((0L, "a/b", "v2")).toDF("transfer_key", "tenant", "payload")
    TenantUpsertSink.upsert(dir, b2, "transfer_key")
    val out2 = TenantUpsertSink.readCurrent(spark, dir).get
      .orderBy("transfer_key").collect()
    assert(out2.length == hostile.length)
    assert(out2.head.getAs[String]("payload") == "v2")
    assert(out2.map(_.getAs[String]("tenant")).toSeq == hostile)
  }

  test("sink_jdbc: embedded-Derby MERGE arm matches the parquet mirror row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_derby_").toString)
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val recs = StreamImport.toRecs(Tables.events(spark, sfDir)).collect().sortBy(_.event_id)
    val spec = StreamImport.transferFold
    val merge = StreamImport.foldMerge(spec)
    val stream = MemoryStream[Rec]
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_jdbc_").toString + "/t"
    val q = StreamImport.entityStream(stream.toDF(), spec, NoLate)
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_jdbcchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // the SAME micro-batch through both arms of the sink contract,
        // from one evaluation of the stateful plan
        val once = b.localCheckpoint()
        TenantUpsertSink.upsert(sinkDir, once, "entity_key", Some(merge))
        StreamImport.jdbcFoldUpsert(url, "TRANSFERS", spec)(once, id)
      }
      .start()
    recs.grouped(math.max(recs.length / 3, 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    // the incarnation marks and the rendered entity row, per key
    def rendered(sunk: DataFrame) = sunk
      .select(col("entity_key"), col("inc_ts"), col("inc_id"), explode(col("rows")).as("r"))
      .select(col("entity_key"), col("inc_ts"), col("inc_id"), col("r.*"))
      .orderBy("entity_key").collect()
    val viaParquet = rendered(TenantUpsertSink.readCurrent(spark, sinkDir).get)
    val schema = org.apache.spark.sql.Encoders
      .product[StreamImport.SinkRow[StreamImport.TransferRow, StreamImport.St]].schema
    val tenants = JdbcUpsert.tenantsOf(url, "TRANSFERS")
    def jdbcRows() = rendered(StreamImport.jdbcFoldRead(spark, url, "TRANSFERS", schema, tenants))
    val viaJdbc = jdbcRows()
    assert(viaJdbc.length == viaParquet.length && viaJdbc.nonEmpty)
    viaJdbc.zip(viaParquet).foreach { case (j, p) =>
      assert(j.toSeq == p.toSeq, s"jdbc=$j parquet=$p")
    }
    // idempotency through the MERGE path: re-applying the current
    // contents as a batch changes nothing
    val cur = JdbcUpsert.readCurrent(spark, url, "TRANSFERS", tenants).cache()
    cur.count() // materialize before re-writing the same tables
    JdbcUpsert.upsert(url, "TRANSFERS", cur, "entity_key")
    cur.unpersist()
    assert(jdbcRows().map(_.toSeq).toSeq == viaJdbc.map(_.toSeq).toSeq)
  }

  test("sink_jdbc: bounded fold + incarnation merge through the Derby MERGE arm extends the sunk row") {
    // the full production-sink composition: bounded fold → SinkRows →
    // Spark-side read-modify-write against the DATABASE's current rows
    // → per-tenant SQL MERGE, nested state as JSON columns. Same
    // idle-gap scenario as the parquet-mirror spec: the post-eviction
    // click must EXTEND the sunk COMPLETED row in Derby.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_derbyf_").toString)
    val url = "jdbc:derby:memory:graftjdbcfold;create=true"
    val base = "TRANSFERS_FOLD"
    val t0 = 1700000000000L
    val stream = MemoryStream[Rec]
    val q = StreamImport.entityStream(stream.toDF(), StreamImport.transferFold) // production defaults
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_jfoldchk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamImport.jdbcFoldUpsert(url, base, StreamImport.transferFold)(b, id)
      }
      .start()
    def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
    feed(mkRec(1, t0, 1, "signup"), mkRec(2, t0 + 1000, 1, "purchase", value = 25.0))
    val t1 = t0 + 3 * 3600 * 1000L
    feed(mkRec(3, t1, 2, "signup"))
    feed(mkRec(4, t1 + 1000, 2, "click"))
    assert(q.lastProgress.stateOperators(0).numRowsTotal == 1,
      "key 1 should be evicted before the straggler arrives")
    feed(mkRec(5, t1 + 2000, 1, "click", value = 7.0))
    q.stop()
    val schema = org.apache.spark.sql.Encoders
      .product[StreamImport.SinkRow[StreamImport.TransferRow, StreamImport.St]].schema
    val got = StreamImport.jdbcFoldRead(spark, url, base, schema,
      JdbcUpsert.tenantsOf(url, base))
      .select(explode(col("rows")).as("r")).select("r.*")
      .filter(col("transfer_key") === 1)
      .select("started_ms", "completed_ms", "amount", "last_click_value", "status", "n_events")
      .collect().map(_.toSeq).toSeq.flatten
    assert(got == Seq(t0, t0 + 1000, "25.00", "7.00", "COMPLETED", 3L),
      s"JDBC incarnation merge lost data: $got")
  }

  test("sink_jdbc: the WIDE entity's nested state survives the JSON roundtrip + incarnation merge") {
    // the deepest state shape (per-column mark structs) through
    // to_json → Derby VARCHAR → from_json → typed merge: a field-name
    // or nullability mismatch anywhere in the WideSt encoding would
    // surface here. Same idle-gap scenario: a post-eviction scalar
    // write must extend the sunk row's OTHER columns.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft_derbyw_").toString)
    val url = "jdbc:derby:memory:graftjdbcwide;create=true"
    val base = "WIDE_FOLD"
    val t0 = 1700000000000L
    val stream = MemoryStream[Rec]
    val q = StreamImport.entityStream(stream.toDF(), StreamImport.wideFold) // production defaults
      .writeStream.outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_jwidechk_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamImport.jdbcFoldUpsert(url, base, StreamImport.wideFold)(b, id)
      }
      .start()
    def feed(rs: Rec*): Unit = { stream.addData(rs.toIndexedSeq); q.processAllAvailable() }
    // incarnation A: channelRequest (party+currency) + CREATE (state+completed)
    feed(mkRec(1, t0, 1, "signup", value = 12.5, k = 10),
      mkRec(2, t0 + 1000, 1, "purchase", k = 10))
    // watermark advances via key 2; key 1 evicts
    val t1 = t0 + 3 * 3600 * 1000L
    feed(mkRec(3, t1, 2, "signup", k = 10))
    feed(mkRec(4, t1 + 1000, 2, "view", k = 10))
    assert(q.lastProgress.stateOperators(0).numRowsTotal == 1)
    // incarnation B: ONE plain scalar (sourceInstitution, click k>=90,
    // even event_id) — every other column must survive from A
    feed(mkRec(6, t1 + 2000, 1, "click", k = 95))
    q.stop()
    val schema = org.apache.spark.sql.Encoders
      .product[StreamImport.SinkRow[StreamImport.WideRow, StreamImport.WideSt]].schema
    val got = StreamImport.jdbcFoldRead(spark, url, base, schema,
      JdbcUpsert.tenantsOf(url, base))
      .select(explode(col("rows")).as("r")).select("r.*")
      .filter(col("transfer_key") === 1)
      .select("payer_party_id", "currency", "transfer_state", "completed_ms",
        "payer_dfsp_id", "status")
      .collect().map(_.toSeq).toSeq.flatten
    // A's nested writes survive; B's scalar landed
    assert(got(0) == "2771", s"party id lost across the JSON merge: $got")
    assert(got(1) == "KES", s"currency lost: $got")
    assert(got(2) == "COMMITTED" && got(3) == t0 + 1000, s"response lost: $got")
    assert(got(4) == "inst-5", s"post-eviction scalar missing: $got")
    assert(got(5) == "IN_PROGRESS")
  }

  test("src_out_of_order buffers records until the association arrives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1704067200000L // 2024-01-01
    val stream = MemoryStream[Rec]
    val q = OutOfOrder.routed(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ooo_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ooo_").toString)
      .start()
    // batch 1: two orphans for user 7 (no signup yet) → nothing emitted
    stream.addData(mkRec(100, t0, 7, "click"), mkRec(101, t0 + 1000, 7, "view"))
    q.processAllAvailable()
    assert(spark.table("ooo_out").count() == 0)
    // batch 2: the association arrives → buffer flushes with process
    // id, and the signup itself routes (it carries lifecycle data)
    stream.addData(mkRec(102, t0 + 2000, 7, "signup"))
    q.processAllAvailable()
    val flushed = spark.table("ooo_out").orderBy("event_id").collect()
    assert(flushed.map(_.getAs[Long]("event_id")).toSeq == Seq(100L, 101L, 102L))
    assert(flushed.forall(_.getAs[String]("process_id") == "proc-t7"))
    // the routed rows carry the FULL record, not just ids — what lets
    // a downstream entity fold consume the routed stream directly
    assert(flushed.map(_.getAs[String]("event_type")).toSeq == Seq("click", "view", "signup"))
    assert(flushed.map(_.getAs[Long]("ts_ms")).toSeq == Seq(t0, t0 + 1000, t0 + 2000))
    // batch 3: post-association records route immediately
    stream.addData(mkRec(103, t0 + 3000, 7, "click"))
    q.processAllAvailable()
    assert(spark.table("ooo_out").count() == 4)
    // batch 4: an orphan for user 8, then the watermark sails past its
    // 1 h idle horizon (driven by user 9's much later events) → the
    // orphan flushes to the dead-letter route and state drops
    stream.addData(mkRec(200, t0 + 4000, 8, "view"))
    q.processAllAvailable()
    stream.addData(mkRec(300, t0 + 5 * 3600 * 1000L, 9, "click"))
    q.processAllAvailable()
    stream.addData(mkRec(301, t0 + 5 * 3600 * 1000L + 1, 9, "click"))
    q.processAllAvailable()
    val dead = spark.table("ooo_out")
      .filter(col("process_id") === OutOfOrder.DeadLetter).collect()
    assert(dead.map(_.getAs[Long]("event_id")).toSeq == Seq(200L))
    q.stop()
  }

  test("src_out_of_order gate: corpus invariant holds and the routed stream answers the batch association join") {
    // the gate's determinism argument (runOutOfOrderToCompletion
    // scaladoc) rests on two corpus invariants — assert them HERE so a
    // generator change fails with the reason, not a hash mismatch:
    // (1) every user carries a signup (no orphan survives the data
    // batch), (2) no user's record count approaches the orphan buffer
    // cap (no mid-batch dead-letter spill)
    val ev = Tables.events(spark, sfDir)
    val noSignup = ev.select("user_id").distinct()
      .join(ev.filter(col("event_type") === "signup").select("user_id").distinct(),
        Seq("user_id"), "left_anti").count()
    assert(noSignup == 0, s"$noSignup users without a signup — the gate's oracle precondition broke")
    val maxPerUser = ev.groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerUser < graft.streaming.OutOfOrder.MaxBuffer,
      s"a user holds $maxPerUser records — within reach of the orphan buffer cap")
    // end-to-end: every record exits exactly once with its user's
    // association; none lost, duplicated, or dead-lettered
    val routed = StreamImport.runOutOfOrderToCompletion(spark, sfDir)
      .select("event_id", "process_id").collect()
    assert(routed.length == ev.count())
    assert(routed.map(_.getAs[Long]("event_id")).distinct.length == routed.length)
    val expected = ev.select(col("event_id"),
      concat(lit("proc-t"), col("user_id") % 10).as("p")).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("p")).toMap
    routed.foreach(r => assert(
      r.getAs[String]("process_id") == expected(r.getAs[Long]("event_id"))))
  }

  test("src_out_of_order: associated keys survive multi-hour idle gaps (two-tier horizon)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1704067200000L
    val stream = MemoryStream[Rec]
    val q = OutOfOrder.routed(stream.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ooo_tier")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ooo_tier_chk_").toString)
      .start()
    stream.addData(mkRec(1, t0, 7, "signup")) // association established
    q.processAllAvailable()
    // another key's event pushes the watermark past t0 + 1h
    stream.addData(mkRec(2, t0 + 2 * 3600 * 1000L, 5, "signup"))
    q.processAllAvailable()
    // under a single 1 h horizon user 7 would have been dropped here and
    // this click would buffer then dead-letter; the long associated-key
    // horizon keeps the instance routable across the idle gap
    stream.addData(mkRec(3, t0 + 2 * 3600 * 1000L + 1, 7, "click"))
    q.processAllAvailable()
    val out = spark.table("ooo_tier").filter(col("event_id") === 3).collect()
    assert(out.map(_.getAs[String]("process_id")).toSeq == Seq("proc-t7"))
    q.stop()
  }

  test("mm_pipeline: one row per sampled frame, deterministic checksums, no shuffle before agg") {
    val f1 = Multimodal.mmPipeline(spark, sfDir).collect()
    val f2 = Multimodal.mmPipeline(spark, sfDir).collect()
    assert(f1.nonEmpty)
    assert(f1.map(_.toSeq).toSeq == f2.map(_.toSeq).toSeq)
    // frames per doc match meta.n_frames = 1 + doc_id % 5
    val byDoc = f1.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rows) => assert(rows.length == 1 + (id % 5).toInt) }
    assert(f1.forall(_.getAs[Int]("dim") == 8))
  }

  test("mm png decode: codec roundtrip is pixel-exact and features come from decoded pixels") {
    import Multimodal._
    val seed = java.security.MessageDigest.getInstance("MD5").digest("graft-known-seed".getBytes("UTF-8"))
    val img = synthesizeImage(seed, 16, 16)
    val png = encodePng(img)
    // 1. it is a real PNG stream (magic bytes) and the codec roundtrip is lossless
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    for (y <- 0 until 16; x <- 0 until 16)
      assert((back.getRGB(x, y) & 0xffffff) == (img.getRGB(x, y) & 0xffffff))
    // 2. features equal an INDEPENDENT computation from the pixel formula —
    //    never touching the codec — so decode provably recovers the pixels
    val meta = MediaMeta("png", 16, 16, 2)
    val got = decodeFrames(png, meta)
    val expected = Array.tabulate(2) { f =>
      val y = f * 16 / 2
      Array.tabulate(8) { i =>
        val x = i * 16 / 8
        val idx = y * 16 + x
        val r = seed(idx % seed.length) & 0xff
        val g = seed((idx * 7 + 3) % seed.length) & 0xff
        val b = (x * 31 + y * 17) & 0xff
        ((r * 299 + g * 587 + b * 114) / 1000 - 128).toFloat / 128f
      }
    }
    assert(got.map(_._1.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    // 3. known-image checksum pin (regression guard on formula + fold)
    assert(frameChecksum(got(0)._1) == 9180221312646271459L)
    // 3b. the resize stage is nearest-neighbor with the inverse-map
    //     rule: 16→8 thumb pixel (x,y) is EXACTLY source (2x+1, 2y+1)
    val th = thumbnail(back)
    for (y <- 0 until ThumbSide; x <- 0 until ThumbSide)
      assert((th.getRGB(x, y) & 0xffffff) == (img.getRGB(2 * x + 1, 2 * y + 1) & 0xffffff))
    // a still image carries ONE thumbnail across its sampled frames
    assert(got.map(_._2).distinct.length == 1)
    assert(got(0)._2 == thumbChecksum(th))
    // 4. a corrupted payload fails loudly instead of producing frames
    val bad = png.clone(); bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x7f).toByte
    intercept[Exception](decodeFrames(bad, meta))
    // 5. the pipeline's png rows (doc_id % 4 == 1) carry pixel-derived
    //    checksums — recompute one end-to-end from the document text
    val doc = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 1).select("doc_id", "text").head()
    val id = doc.getAs[Long]("doc_id")
    // spark md5() yields the hex STRING; cast-to-binary gives its utf8 bytes
    val dSeed = java.security.MessageDigest.getInstance("MD5")
      .digest(doc.getAs[String]("text").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.getBytes("UTF-8")
    val side = 16 << (id % 3).toInt
    val dMeta = MediaMeta("png", side, side, 1 + (id % 5).toInt)
    val want = decodeImage(encodePng(synthesizeImage(dSeed, side, side)), dMeta)
    val rows = Multimodal.mmPipeline(spark, sfDir)
      .filter(col("doc_id") === id).orderBy("frame_idx").collect()
    assert(rows.map(_.getAs[Long]("checksum")).toSeq == want.map(w => frameChecksum(w._1)).toSeq)
    assert(rows.map(_.getAs[Long]("thumb_checksum")).toSeq == want.map(_._2).toSeq)
  }

  test("mm subsampled thumbnail: pixel parity with the full-decode resize, per format") {
    import Multimodal._
    // the subsampled read must yield EXACTLY the resize rule's pixel
    // grid — offset (w/16, h/16), stride (w/8, h/8) — for png
    // (lossless, so parity is bit-exact by construction) AND jpeg
    // (parity holds because the JDK reader subsamples post-IDCT from
    // the same decoded scanlines); every corpus side (16/32/64) is
    // covered, so the ScaleKnobs A/B arms compare identical work
    val seed = java.security.MessageDigest.getInstance("MD5").digest("graft-sub-seed".getBytes("UTF-8"))
    for (side <- Seq(16, 32, 64); fmt <- Seq("png", "jpeg")) {
      val payload = encodeImage(synthesizeImage(seed, side, side), fmt)
      val full = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      val want = thumbnail(full)
      val got = thumbnailSubsampled(payload)
      for (y <- 0 until ThumbSide; x <- 0 until ThumbSide)
        assert((got.getRGB(x, y) & 0xffffff) == (want.getRGB(x, y) & 0xffffff),
          s"$fmt $side: subsampled pixel ($x,$y) diverges from the resize rule")
      assert(thumbChecksum(got) == thumbChecksum(want))
    }
    // mp4 arm: the per-frame fold through thumbOnly agrees between arms
    val meta = MediaMeta("mp4", 32, 32, 3)
    val mp4 = encodeMp4(synthesizeSamples(seed, 3, 32), 32)
    assert(thumbOnly(mp4, meta, sub = true) == thumbOnly(mp4, meta, sub = false))
    // non-conforming dims fail loudly instead of silently shifting the grid
    val odd = encodePng(synthesizeImage(seed, 20, 20))
    intercept[IllegalArgumentException](thumbnailSubsampled(odd))
    // stage-attribution arms agree with the shipped pipeline's counts
    assert(demuxOnly(mp4, meta) == 3 && decodeOnly(mp4, meta) == 3)
    val png = encodePng(synthesizeImage(seed, 16, 16))
    assert(demuxOnly(png, MediaMeta("png", 16, 16, 2)) == 1)
    assert(decodeOnly(png, MediaMeta("png", 16, 16, 2)) == 1)
  }

  test("mm wav decode: RIFF roundtrip is sample-exact and features come from decoded samples") {
    import Multimodal._
    val seed = java.security.MessageDigest.getInstance("MD5").digest("graft-known-seed".getBytes("UTF-8"))
    val wave = synthesizeWaveform(seed, 256)
    val wav = encodeWav(wave)
    // 1. it is a real RIFF/WAVE stream (magic bytes), and the JDK audio
    //    parser roundtrips the PCM16 samples losslessly
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val raw = ais.readAllBytes()
    val back = Array.tabulate(raw.length / 2)(i =>
      (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort)
    assert(back.toSeq == wave.toSeq)
    // 2. features equal an INDEPENDENT computation from the waveform
    //    formula — never touching the codec — so decode provably
    //    recovers the samples
    val meta = MediaMeta("wav", 16, 16, 2)
    val got = decodeWav(wav, meta)
    val expected = Array.tabulate(2) { f =>
      val start = f * 256 / 2
      Array.tabulate(8) { i =>
        val idx = math.min(start + i * 128 / 8, 255)
        val hi = (seed(idx % seed.length) ^ (idx * 31)) & 0xff
        val lo = (seed((idx * 5 + 1) % seed.length) ^ (idx * 17)) & 0xff
        (((hi << 8) | lo) - 32768).toShort / 32768f
      }
    }
    assert(got.map(_._1.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    // 3. known-waveform checksum pin (regression guard on formula + fold)
    assert(frameChecksum(got(0)._1) == -1204034326619418653L)
    // 3b. the audio "thumbnail" decimates the DECODED samples with the
    //     same nearest rule as the image resize — recompute from the
    //     waveform, never touching the codec
    assert(got.map(_._2).distinct.toSeq == Seq(waveThumbChecksum(wave)))
    // 4. a corrupted RIFF header fails loudly instead of producing frames
    val bad = wav.clone(); bad(1) = (bad(1) ^ 0x7f).toByte
    intercept[Exception](decodeFrames(bad, meta))
    // 5. the pipeline's wav rows (doc_id % 4 == 2) carry sample-derived
    //    checksums — recompute one end-to-end from the document text
    val doc = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 2).select("doc_id", "text").head()
    val id = doc.getAs[Long]("doc_id")
    val dSeed = java.security.MessageDigest.getInstance("MD5")
      .digest(doc.getAs[String]("text").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.getBytes("UTF-8")
    val side = 16 << (id % 3).toInt
    val dMeta = MediaMeta("wav", side, side, 1 + (id % 5).toInt)
    val payload = encodeWav(synthesizeWaveform(dSeed, side * side))
    val want = decodeWav(payload, dMeta).map(w => frameChecksum(w._1))
    val rows = Multimodal.mmPipeline(spark, sfDir)
      .filter(col("doc_id") === id).orderBy("frame_idx").collect()
    assert(rows.map(_.getAs[Long]("checksum")).toSeq == want.toSeq)
    // and the real decode differs from what the byte-stub would fake
    assert(want.toSeq != decodeStub(payload, dMeta).map(frameChecksum).toSeq)
  }

  test("mm mp4: Motion-JPEG demux + decode recovers per-frame pixels; corrupt boxes/samples fail") {
    import Multimodal._
    val seed = java.security.MessageDigest.getInstance("MD5").digest("graft-known-seed".getBytes("UTF-8"))
    val samples = synthesizeSamples(seed, 3, 16)
    val mp4 = encodeMp4(samples, 16)
    // 1. a structurally real container: leading ftyp box, isom brand,
    //    and every sample in the mdat is a complete JFIF stream
    assert(new String(mp4.slice(4, 8), "US-ASCII") == "ftyp")
    assert(new String(mp4.slice(8, 12), "US-ASCII") == "isom")
    assert(samples.forall(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xd8))
    // frame sizes genuinely vary (different images → different entropy)
    assert(samples.map(_.length).distinct.length > 1)
    // 2. features equal an INDEPENDENT per-frame decode of the SAME
    //    frame images — never touching the demuxer — so the box walk +
    //    stsz slicing provably hand the codec the right bytes
    val meta = MediaMeta("mp4", 16, 16, 3)
    val got = decodeMp4(mp4, meta)
    val expected = Array.tabulate(3) { f =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(samples(f)))
      val y = f * img.getHeight / 3
      Array.tabulate(8) { i =>
        val rgb = img.getRGB(i * img.getWidth / 8, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
        (lum - 128).toFloat / 128f
      }
    }
    assert(got.map(_._1.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    // 2b. a VIDEO track gets a DISTINCT thumbnail per decoded frame,
    //     each matching an independent resize of that frame's image
    val wantThumbs = Array.tabulate(3) { f =>
      thumbChecksum(thumbnail(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(samples(f)))))
    }
    assert(got.map(_._2).toSeq == wantThumbs.toSeq)
    assert(wantThumbs.distinct.length == 3)
    // 3. frame-count mismatch, corrupt box sizes, a corrupt SAMPLE
    //    (valid boxes, broken JPEG), and a codec this JVM cannot
    //    decode all fail loudly
    intercept[Exception](decodeMp4(mp4, meta.copy(n_frames = 4)))
    val bad = mp4.clone(); bad(0) = 0x7f.toByte // absurd top-box size
    intercept[Exception](decodeFrames(bad, meta))
    val badSample = mp4.clone()
    val sampleOff = badSample.length - samples.map(_.length).sum // mdat content start
    badSample(sampleOff) = 0x00 // break the first frame's JFIF magic
    intercept[Exception](decodeMp4(badSample, meta))
    val foreign = encodeMp4Raw(samples, 16, "avc1")
    intercept[Exception](decodeMp4(foreign, meta))
    // 4. the pipeline's mp4 rows (doc_id % 4 == 3) carry decoded-pixel
    //    checksums — recompute one end-to-end from the document text
    val doc = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 3).select("doc_id", "text").head()
    val id = doc.getAs[Long]("doc_id")
    val dSeed = java.security.MessageDigest.getInstance("MD5")
      .digest(doc.getAs[String]("text").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.getBytes("UTF-8")
    val side = 16 << (id % 3).toInt
    val dMeta = MediaMeta("mp4", side, side, 1 + (id % 5).toInt)
    val payload = encodeMp4(synthesizeSamples(dSeed, dMeta.n_frames, side), side)
    val want = decodeMp4(payload, dMeta)
    val rows = Multimodal.mmPipeline(spark, sfDir)
      .filter(col("doc_id") === id).orderBy("frame_idx").collect()
    assert(rows.map(_.getAs[Long]("checksum")).toSeq == want.map(w => frameChecksum(w._1)).toSeq)
    assert(rows.map(_.getAs[Long]("thumb_checksum")).toSeq == want.map(_._2).toSeq)
    // and real demux+decode differs from the structure-blind byte stub
    assert(want.map(w => frameChecksum(w._1)).toSeq !=
      decodeStub(payload, dMeta).map(frameChecksum).toSeq)
  }

  test("mm jpeg decode: features come from the (lossy) codec reconstruction, not the stub") {
    import Multimodal._
    // jpeg rows are doc_id % 4 == 0
    val doc = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 0).select("doc_id", "text").head()
    val id = doc.getAs[Long]("doc_id")
    val seed = java.security.MessageDigest.getInstance("MD5")
      .digest(doc.getAs[String]("text").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.getBytes("UTF-8")
    val side = 16 << (id % 3).toInt
    val meta = MediaMeta("jpeg", side, side, 1 + (id % 5).toInt)
    val payload = encodeImage(synthesizeImage(seed, side, side), "jpeg")
    // real JFIF stream
    assert((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
    val want = decodeImage(payload, meta).map(w => frameChecksum(w._1))
    val rows = Multimodal.mmPipeline(spark, sfDir)
      .filter(col("doc_id") === id).orderBy("frame_idx").collect()
    assert(rows.map(_.getAs[Long]("checksum")).toSeq == want.toSeq)
    // and the real decode differs from what the byte-stub would fake
    assert(want.toSeq != decodeStub(payload, meta).map(frameChecksum).toSeq)
  }

  test("stream_join_outer: null-extension waits for the watermark to close the match window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1704067200000L
    val stream = MemoryStream[Rec]
    val q = StreamImport.joinStream(stream.toDF(), "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .writeStream.outputMode("append").format("memory").queryName("oj_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_oj_").toString)
      .start()
    def out() = spark.table("oj_out").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // an unmatched click cannot be PROVEN unmatched yet → no emission
    stream.addData(mkRec(1, t0, 1, "click"))
    q.processAllAvailable()
    assert(out().isEmpty, "null-extended row emitted before the window closed")
    // a matched pair emits eagerly, no watermark wait (cross-batch:
    // the click is buffered state from batch 1... this one is batch 2)
    stream.addData(mkRec(2, t0 + 60000, 2, "click"),
      mkRec(3, t0 + 120000, 2, "purchase"))
    q.processAllAvailable()
    assert(out() == Set((2L, Some(3L))), s"eager match wrong: ${out()}")
    // watermark sails past click 1's match window (t0 + 1 h): the
    // null-extended row for it NOW emits. BOTH sides must see the
    // advance — the watermark is the min across the two event-time
    // columns, and only click/purchase records reach them
    stream.addData(mkRec(4, t0 + 4 * 3600 * 1000L, 3, "click"),
      mkRec(5, t0 + 4 * 3600 * 1000L, 4, "purchase"))
    q.processAllAvailable()
    stream.addData(mkRec(6, t0 + 4 * 3600 * 1000L + 1, 3, "click"),
      mkRec(7, t0 + 4 * 3600 * 1000L + 1, 4, "purchase"))
    q.processAllAvailable()
    assert(out().contains((1L, None)),
      s"closed window did not null-extend the unmatched click: ${out()}")
    q.stop()
  }

  test("a restarted import loop compiles no generated class again and lands the same rows") {
    // Graft.codegenConfs; the entity builds in between would evict the
    // first run's classes from Spark's default 100-entry cache
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = StreamImport.runImportLoopToCompletion(spark, sfDir).collect().toSeq
    Seq(ImporterCore.impEntityTransfers _, ImporterCore.impEntityWide _,
      ImporterCore.impEntityTxnreq _, ImporterCore.impEntityBatches _,
      ImporterCore.impVariables _, ImporterCore.impTasks _)
      .foreach(build => build(spark, sfDir).write.format("noop").mode("overwrite").save())
    val before = compiles.getCount
    val second = StreamImport.runImportLoopToCompletion(spark, sfDir).collect().toSeq
    assert(compiles.getCount - before == 0, "classes compiled by the restarted run")
    assert(first.nonEmpty && second == first)
  }

  test("gate runner: a query that fails to start leaves no listener on the session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val before = spark.streams.listListeners().toSet
    val stream = MemoryStream[Rec]
    // a stream-stream join runs in append mode only: start() rejects update
    val frame = StreamImport.joinStream(stream.toDF(), "inner")
      .withColumn("pair_key", concat(col("click_id"), lit("_"), col("purchase_id")))
      .withColumn("tenant", concat(lit("t"), col("user_id") % 10))
    intercept[org.apache.spark.sql.AnalysisException](
      StreamImport.runStreamToSink(spark, "start_fails", frame, "pair_key", mode = "update"))
    assert(spark.streams.listListeners().toSet == before)
  }

  test("preFold: partials merge to the exact fold; flush cap bounds the map") {
    val t0 = 1700000000000L
    val types = Array("signup", "purchase", "click", "view", "error")
    val recs = (0 until 1000).map(i =>
      mkRec(i.toLong, t0 + i, (i % 37).toLong, types(i % 5), value = i * 0.5, k = i % 100))
    // default cap: one partial per key per partition
    val one = StreamImport.preFold(StreamImport.transferFold)(recs.iterator).toVector
    assert(one.size == 37, s"expected 37 partials, got ${one.size}")
    assert(one.map(_.max_ts).max == recs.map(_.ts_ms).max)
    assert(one.map(p => (p.ord_ts, p.ord_id)).min ==
      recs.map(r => (r.ts_ms, r.event_id)).min)
    // a tiny cap flushes repeatedly — several partials per key — and the
    // monoid merge STILL reconstructs the exact per-key fold
    val partials = StreamImport.preFold(StreamImport.transferFold, maxEntries = 8)(
      recs.iterator).toVector
    assert(partials.size > 37 && partials.size <= recs.size)
    val merged = partials.groupBy(_.entity_key).view
      .mapValues(ps => ps.map(_.st).reduce(StreamImport.transferFold.merge)).toMap
    val direct = recs.groupBy(_.user_id).view
      .mapValues(_.foldLeft(StreamImport.transferFold.empty)(StreamImport.transferFold.step)).toMap
    assert(merged == direct)
  }

  test("pre-fold skew bound: one hot key, the stateful exchange receives partials, not raw records") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000L
    val types = Array("signup", "purchase", "click", "view", "error")
    def rec(id: Long, user: Long): Rec =
      mkRec(id, t0 + id * 100, user, types((id % 5).toInt), value = (id % 97) * 1.0, k = id % 100)
    // one hot workflow instance owns HALF the corpus — the reference's
    // row-at-a-time loop never notices; a naive keyed shuffle funnels
    // all 4000 of its records through one stateful task
    val hotN = 4000
    val coldKeys = 40
    val recs = (0 until hotN).map(i => rec(i.toLong, 1L)) ++
      (0 until hotN).map(i => rec((hotN + i).toLong, 2 + (i % coldKeys).toLong))
    // total shuffle traffic of the whole run, to bound below raw-record
    // volume (partials + the sink merge join, never the 8000 records)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffled.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val stream = MemoryStream[Rec]
      val sinkDir = java.nio.file.Files.createTempDirectory("graft_skew_").toString + "/t"
      val q = StreamImport.entityStream(stream.toDF(), StreamImport.transferFold)
        .writeStream.outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_skewchk_").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          TenantUpsertSink.upsert(sinkDir, b, "entity_key",
            Some(StreamImport.foldMerge(StreamImport.transferFold)))
        }
        .start()
      // 8 addData blocks = 8 input partitions in ONE micro-batch: the
      // hot key's fold work runs 8-way parallel map-side
      recs.grouped(recs.length / 8 + 1).foreach(c => stream.addData(c.toIndexedSeq))
      q.processAllAvailable()
      // plan shape: the pre-fold MapPartitions sits BELOW the stateful
      // operator's shuffle — what turns raw records into partials
      // before they ever hit the exchange
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val fmgws = exec.collectFirst {
        case f: org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec => f
      }.getOrElse(fail("no FlatMapGroupsWithStateExec in the plan"))
      val exch = fmgws.collectFirst {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.getOrElse(fail("no shuffle below the stateful operator"))
      assert(exch.collectFirst {
        case m: org.apache.spark.sql.execution.MapPartitionsExec => m
      }.nonEmpty, "pre-fold MapPartitions missing below the stateful exchange")
      q.stop()
      // listener events drain asynchronously
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (System.currentTimeMillis() < deadline && shuffled.get() != last) {
        last = shuffled.get(); Thread.sleep(300)
      }
      // ≤ (keys × partitions) partials reach the stateful exchange and
      // the sink merge joins O(keys) rows — raw-record shuffling would
      // put all 8000 records (plus sink traffic) on the wire
      assert(shuffled.get() < recs.length / 2,
        s"whole-run shuffle volume ${shuffled.get()} — raw records on the stateful exchange?")
      // and the result is EXACT: equals the direct fold of every record
      val got = TenantUpsertSink.readCurrent(spark, sinkDir).get
        .select(explode(col("rows")).as("r")).select("r.*")
        .orderBy("transfer_key").collect()
      val want = recs.groupBy(_.user_id).toSeq.sortBy(_._1).map { case (k, rs) =>
        val st = rs.foldLeft(StreamImport.transferFold.empty)(StreamImport.transferFold.step)
        StreamImport.transferFold.render(k, st).head
      }
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (g, w) =>
        assert(g.toSeq == w.productIterator.toSeq,
          s"key ${g.get(0)}: stream=${g.toSeq} direct=${w.productIterator.toSeq}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
