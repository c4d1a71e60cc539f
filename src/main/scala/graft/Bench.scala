package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Committed expected band (seconds) for the cross-run environment
    * anchor (r16 verdict item 7): the fixed 20 M-row/100 k-key
    * synthetic shuffle, warm + min-of-2, measured on the reference
    * host class (idle, loadavg < 1, the r15 environment the standing
    * BENCH records were drawn on; r17 calibration: two independent
    * JVM draws measured best-of-endpoints 1.02 / 1.20 s — calibrated
    * point 1.1 s, recorded in PLANS.md). Floor = 0.5× the calibrated
    * point (a faster host class is ALSO a comparison hazard and
    * stamps "fast"); ceiling = 2× (beyond the 1.5×
    * meaningful-comparison band with headroom for JVM/GC draw noise
    * on a healthy host — the r16 slow host measured 3-8× on
    * shuffle-heavy work, far past it).
    */
  val AnchorBand: (Double, Double) = (0.55, 2.20)

  /** The calibrated anchor point the band is centered on (r17: two
    * independent idle-host JVM draws, best-of-endpoints 1.02 / 1.20 s).
    * Classing is by RATIO to this point, stamped numerically in every
    * artifact (r17 verdict item 2: a 1.94/2.23 draw classed "ok"
    * under the bare 2× ceiling while PLANS.md adjudicated the host
    * ~1.8× slow — the class bands now carry a "degraded" level between
    * ok and slow, and the ratio itself is in the record so borderline
    * hosts are visible regardless of class policy).
    */
  val AnchorCalibrated: Double = 1.1

  /** Ratio-to-calibrated thresholds: ≤ [[DegradedRatio]] is "ok"
    * (healthy JVM/GC draw noise), above it "degraded" (numbers are
    * directionally usable but absolutes are inflated — keep_best
    * prefers an ok record over a degraded one), above the band
    * ceiling "slow" (environment-class drift; the draw is refused
    * outright against a clean record).
    */
  val DegradedRatio: Double = 1.5

  def anchorClassOf(secs: Double): String =
    if (secs < 0) "unknown"
    else if (secs > AnchorBand._2) "slow"
    else if (secs > AnchorCalibrated * DegradedRatio) "degraded"
    else if (secs < AnchorBand._1) "fast"
    else "ok"

  /** DIRECTION-AWARE canary verdict (r18): a sweep-end canary runs in
    * a JVM matured by the whole sweep (C2 + codegen/parquet infra), so
    * the start/end pair carries a JVM-WIDE warmup term the canary's
    * own warm+min-of-2 protocol cannot close — four same-day r18 draws
    * tripped the old symmetric 1.5× bar START-slow (1.55–3.23) with
    * flat mid probes, ok anchors, and same-host re-draws minutes later
    * at 1.03–1.17. Environment degradation DURING a sweep slows the
    * END draw: that direction keeps the tight 1.5× bar; the start-slow
    * direction trips only beyond 2.5× (above the observed 1.28–1.9
    * maturation band). Mid-sweep probes and the absolute anchor cover
    * a genuinely-contended sweep START. Either probe failing (≤ 0)
    * yields false — the anchor-unknown path owns that case.
    */
  def canaryContended(start: Double, end: Double): Boolean =
    start > 0 && end > 0 && (end / start > 1.5 || start / end > 2.5)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen compiler, scheduler, file-listing
    // caches) so the first measured query isn't charged the JVM spinup;
    // warmup failures must not kill the run — the per-query loop
    // reports them properly
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.all.foreach(t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () })
    // optional isolation filter (comma-separated names): lets a slow
    // query be re-timed alone, outside sweep order — full sweep when unset
    val only = Graft.nameFilter("SPARK_GRAFT_BENCH_ONLY")
    // family filter: the round chain's stream-protocol A/B re-times
    // exactly the streaming family (by queries-map membership, same
    // rule as the partitioning conf below) without hardcoding the
    // name list in the shell script
    val famOnly = sys.env.get("SPARK_GRAFT_BENCH_FAMILY").map(_.trim).filter(_.nonEmpty)
    famOnly.foreach(f => require(f == "stream",
      s"SPARK_GRAFT_BENCH_FAMILY supports only 'stream', got '$f'"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) =>
        famOnly.forall(_ => streaming.StreamImport.queries.contains(name)) }
    // warm the STREAMING machinery too (state-store provider, streaming
    // codegen paths, sink round-trip classes) — without this the
    // alphabetically-first stream_* query absorbs several seconds of
    // one-time engine spinup (r03: stream_batches 9.7 s vs its 2.9 s
    // isolated re-time). Smallest corpus available; a skipped warmup is
    // REPORTED so skewed stream numbers are attributable.
    if (selected.exists(s => streaming.StreamImport.queries.contains(s._1))) {
      val warmDir = Seq("/root/testdata/sf0.001", sfDir)
        .find(d => new java.io.File(s"$d/events.parquet").exists())
      try warmDir match {
        case Some(d) => streaming.StreamImport.runToCompletion(spark, d)
          .write.mode("overwrite").format("noop").save()
        case None => System.err.println(
          s"[bench] WARNING: no events.parquet for streaming warmup — first stream_* time will include engine spinup")
      } catch { case e: Throwable => System.err.println(
        s"[bench] WARNING: streaming warmup failed (${e.getMessage}) — first stream_* time will include engine spinup")
      }
      Scratch.releaseAll()
    }
    // repetitions per query, MEDIAN reported: single runs bounced ±2×
    // on sub-second queries from sweep-order residue alone (rounds 4-6
    // all spent judge time re-timing in isolation); the median of 3
    // makes BENCH_rN diffable round-over-round. Large corpora can dial
    // it down (the sf1 scale point runs 1×).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // per-query rep override ("name=2,other=2"): page-cache-sensitive
    // sf10 families (dedup_cluster_rep flapped 53↔131 s between
    // same-HEAD single draws) get 2 tight same-sweep reps while the
    // rest of the sweep stays at the scale point's default
    // malformed entries ("name=", "name=x", a stray comma) are DROPPED
    // with a named warning instead of throwing — a typo'd override
    // must not kill an hour-long sweep at startup (r15 ADVICE)
    val repsOverride: Map[String, Int] =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS_OVERRIDE", "").split(",")
        .map(_.trim).filter(_.nonEmpty).flatMap { kv =>
          kv.split("=", 2) match {
            // name restricted to [A-Za-z0-9_]+: the name is later
            // emitted as a raw JSON key in the committed artifact's
            // reps.overrides map, so a quote/backslash in it would
            // corrupt the BENCH JSON (r16 ADVICE)
            case Array(k, v) if k.trim.matches("[A-Za-z0-9_]+") &&
                v.trim.toIntOption.isDefined =>
              Some(k.trim -> v.trim.toIntOption.get.max(1))
            case _ =>
              System.err.println("[bench] WARNING: ignoring malformed " +
                s"SPARK_GRAFT_BENCH_REPS_OVERRIDE entry '$kv' " +
                "(want [A-Za-z0-9_]+=int)")
              None
          }
        }.toMap
    // bench-scale state/shuffle partitioning for the streaming family
    // (see the per-rep comment below); overridable so an A/B against
    // the production-sized 32 stays a one-env-var run
    val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8").toInt.max(1)
    // family by MEMBERSHIP, not name prefix: src_out_of_order is a
    // stateful streaming query whose name doesn't start with stream_,
    // and a prefix test silently left it at the 32-partition default
    // (the exact fixed-cost drift this conf exists to remove)
    def streamFamily(name: String): Boolean =
      streaming.StreamImport.queries.contains(name)
    // ---- contention guard --------------------------------------------
    // The r11 driver sweep recorded 2.55× uniform inflation from a busy
    // machine and nothing in the artifact said so — the judge had to
    // re-time nine queries by hand to adjudicate it. Every sweep now
    // carries its own environment evidence: a fixed canary query timed
    // with the identical per-rep harness at sweep START and END, plus
    // /proc/loadavg at both points. A canary drift beyond 1.5× (the
    // BASELINE.md band above which per-query comparisons are deemed
    // meaningful) or a widespread per-query rep spread stamps
    // "contended": true, making a polluted sweep self-identifying.
    def loadavg1m(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // ---- stall / pressure attribution (r17 verdict items 1 + 6) ----
    // The sf10 sweep's one >120 s driver stall and its 8.6× heavy-row
    // sweep-order inflation were both unattributed because the record
    // carried no per-point JVM/OS evidence. Three cheap probes close
    // that: cumulative GC time (a stall that is GC shows up as a
    // per-query gc delta of the same order as the stall), the heap
    // high-water (pool peaks — driver-side state growth), and page
    // pressure from /proc/meminfo (Dirty+Writeback = the writeback
    // candidate; MemAvailable = page-cache headroom, whose collapse is
    // the suspected carrier of cross-family sweep residue).
    def gcTotalSec(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0
    }
    // pool-peak SUM is an upper bound (Eden's peak and old-gen's peak
    // need not be simultaneous — r18 review finding), so the committed
    // heap_peak_mb is a running max of SAMPLED total used heap (one
    // sample per rep/query boundary, a floor of the true high-water);
    // the stderr line carries both so a stall adjudication can bracket
    def heapPoolPeakSumMb(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
        .sum / (1024 * 1024)
    }
    var heapUsedMaxMb = 0L
    def sampleHeapMb(): Long = {
      val used = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024 * 1024)
      heapUsedMaxMb = math.max(heapUsedMaxMb, used)
      heapUsedMaxMb
    }
    def meminfoMb(key: String): Long =
      try scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    def dirtyMb(): Long = {
      val d = meminfoMb("Dirty"); val w = meminfoMb("Writeback")
      if (d < 0 || w < 0) -1L else d + w
    }
    // GC seconds spent INSIDE timed regions only: the hygiene block
    // below deliberately forces a full collection of the PREVIOUS
    // query's garbage, so a naive before/after-reps GC delta charges
    // that inter-query housekeeping to the wrong query (r18 review
    // finding) — exactly the misread a stall adjudication must avoid
    var gcTimedSec = 0.0
    def timeOne(name: String, streamQ: Boolean,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        streamParts: Int): Double = {
      Scratch.releaseAll()
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
      Thread.sleep(150)
      val session = spark.newSession()
      functions.GraftFunctions.register(session)
      if (streamQ) session.conf.set("spark.sql.shuffle.partitions", streamParts)
      val gcT0 = gcTotalSec()
      val t0 = System.nanoTime()
      try {
        fn(session, sfDir).write.mode("overwrite").format("noop").save()
        val secs = (System.nanoTime() - t0) / 1e9
        gcTimedSec += gcTotalSec() - gcT0
        sampleHeapMb()
        secs
      } catch { case e: Throwable =>
        gcTimedSec += gcTotalSec() - gcT0
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1.0 }
    }
    // q6_forecast: single-table scan+agg, sub-second at the gate corpus,
    // code untouched since r4 — its absolute time is a pure machine
    // probe. Runs OUTSIDE the sweep selection so BENCH_ONLY / FAMILY
    // subset artifacts carry the guard too. Protocol at EACH end: one
    // discarded warm run, then min of 2 measured — the first canary of
    // a session pays cold page-cache + codegen (3.4× at sf1 in the
    // shakedown run), which is warm-up, not contention; min-of-2 after
    // a warm run probes only the machine.
    // ---- cross-run environment anchor (r16 verdict item 7) ----------
    // The canary below is an A/B against ITSELF within one sweep, so a
    // slow-but-STABLE host passes it: the r16 sf1 record was drawn on
    // the proven-slow host (loadavg 11.8, shuffle writes ~12 MB/s vs
    // 2.7 GB/s idle) yet stamped contended:false because nothing
    // degraded DURING the sweep. The anchor closes that blind spot
    // with an absolute reference: a fixed synthetic shuffle — no sfDir
    // dependence, 20 M rows hashed into 100 k keys, aggregated, noop
    // sink — whose shuffle files exercise the exact write path whose
    // collapse drove the r16 3-8× inflation. Timed with the same
    // warm + min-of-2 protocol at both sweep ends and compared to a
    // COMMITTED expected band measured on the reference host class
    // (idle, r15-environment; see AnchorBand below). Outside the band
    // the artifact stamps "class":"slow"/"fast" — environment-CLASS
    // drift is visible in every committed record without any A/B, and
    // the round chain's keep-best guard refuses anchor-slow draws.
    def anchorOnce(): Double = {
      val s = spark.newSession()
      val t0 = System.nanoTime()
      s.range(0L, 20000000L, 1L, 32)
        .selectExpr("pmod(hash(id), 100000) AS k", "id % 1000 AS v")
        .groupBy("k").agg(
          org.apache.spark.sql.functions.sum("v"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def anchorProbe(): Double =
      try { anchorOnce(); math.min(anchorOnce(), anchorOnce()) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] WARNING: anchor probe failed: ${e.getMessage}")
        -1.0 }
    val canaryName = "q6_forecast"
    val canaryFn = SparkEntry.queries.get(canaryName)
    def canaryProbe(): Double = canaryFn.map { f =>
      timeOne(canaryName, streamQ = false, f, 0) // warm, discarded
      val a = timeOne(canaryName, streamQ = false, f, 0)
      val b = timeOne(canaryName, streamQ = false, f, 0)
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }.getOrElse(-1.0)
    val loadStart = loadavg1m()
    val anchorStart = anchorProbe()
    val canaryStart = canaryProbe()
    val failed = Seq.newBuilder[String]
    val repSpreads = Seq.newBuilder[Double]
    // At reps=1 (the sf1/sf10 chain configuration) repSpreads is empty,
    // so without mid-sweep probes the verdict rested on the two
    // endpoint canaries alone — contention confined to the MIDDLE of a
    // long sweep (sf10 runs ~1 h) passed unstamped. Periodic canary
    // probes close that window; at reps>=2 the per-query rep spread
    // already covers the middle, so the extra probes (and their sweep
    // cost) are skipped.
    // mid probes carry the pressure evidence too: (index, canary secs,
    // loadavg, dirty+writeback MB, MemAvailable MB) — the r17 sweep's
    // heavy-row inflation is adjudicable only if the record shows what
    // the machine looked like at that point of the sweep
    val midCanaries = Seq.newBuilder[(Int, Double, Double, Long, Long)]
    // short sweeps (the per-family sf10 runs are 1-5 queries) probe at
    // the midpoint anyway: the direction-aware canary's relaxed 2.5×
    // start-slow bar leans on mid probes + anchor to cover a
    // genuinely-contended sweep START, and with the old >=12 floor a
    // 2-query family sweep had no mids at all (r18 review finding) —
    // a sub-second probe per heavy family query is free
    val midEvery =
      if (reps != 1) Int.MaxValue
      else if (selected.size < 12) math.max(1, selected.size / 2)
      else math.max(12, math.ceil(selected.size / 8.0).toInt)
    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && midEvery != Int.MaxValue && qi % midEvery == 0)
        midCanaries += ((qi, canaryProbe(), loadavg1m(), dirtyMb(),
          meminfoMb("MemAvailable")))
      // ---- per-rep isolation, all OUTSIDE the timing (timeOne) ----
      // round 1's leak was Scratch blocks; what remained in round 2
      // was ~2-4× sweep-order drift from shuffle-file/GC residue of
      // EARLIER queries. timeOne quiesces before each measurement:
      // release scratch, drop cached plans, unload lingering streaming
      // state-store providers (an earlier stream_* query's providers
      // survive query stop and inflated later stream queries up to
      // 4.6×), and force a GC cycle so the ContextCleaner reclaims
      // dead shuffle files — then run the query in a FRESH child
      // session (own SQL conf/cache/temp state, shared executors and
      // file-listing warmup) into a noop sink (materializes EVERY
      // column and keeps the final sort in the plan — count() would
      // let Catalyst prune the aggregates and EliminateSorts drop the
      // orderBy, timing a fraction of the real query).
      //
      // STREAM family runs at bench-scale state partitioning: its
      // wall time is micro-batch machinery (state-store commits ×
      // shuffle partitions per trigger — PLANS.md "stream_join_outer
      // trigger sizing" measured ~8.5 s per extra micro-batch at 32
      // partitions), so at the gate corpus the 32-partition default
      // times mostly fixed-cost noise and same-code sweeps drifted up
      // to 2.7× round-over-round
      // (r9 stream_wide). Partitioning is a conf, not a plan property —
      // production sizes it to the cluster, the bench sizes it to the
      // corpus. Batch queries keep the sweep default so their shuffle
      // shape stays the measured one.
      val qReps = repsOverride.getOrElse(name, reps)
      val gc0 = gcTimedSec
      val times = (1 to qReps).map { _ =>
        timeOne(name, streamFamily(name), fn, streamParts)
      }
      // per-rep times to stderr: median drift across reps of the SAME
      // query is diagnosable from the sweep log without a re-run
      if (qReps > 1) System.err.println(
        s"[bench] $name reps: ${times.map(t => f"$t%.2f").mkString(", ")}")
      // per-query attribution line: GC time inside this query's TIMED
      // reps only (timeOne's own System.gc hygiene is excluded, so a
      // driver stall that is GC reads as a delta of the stall's order
      // without the previous query's housekeeping smeared in), sampled
      // heap high-water + pool-peak-sum upper bound, and the
      // page-pressure pair — stderr only, so the sweep log answers
      // "what was the machine doing around the slow row" without a
      // re-run
      System.err.println(f"[bench] $name gc+=${gcTimedSec - gc0}%.1fs " +
        s"heapUsedMB=${sampleHeapMb()} heapPoolPeakSumMB=${heapPoolPeakSumMb()} " +
        s"dirtyMB=${dirtyMb()} availMB=${meminfoMb("MemAvailable")}")
      // a failed rep poisons the query: report -1, never a partial
      // median over surviving reps (that would hide flaky failures).
      // LOWER median on even rep counts: at reps=2 (the sf10
      // page-cache attribution protocol) the reported number is the
      // better draw — the one that reflects the plan, not the cache
      val elapsed =
        if (times.contains(-1.0)) { failed += name; -1.0 }
        else times.sorted.apply((times.size - 1) / 2)
      // rep spread feeds the contention verdict — only queries slow
      // enough to sit above the documented ±40% sub-second noise band
      if (!times.contains(-1.0) && qReps > 1 && elapsed >= 0.5)
        repSpreads += times.max / math.max(times.min, 1e-9)
      name -> elapsed
    }
    // the last query's scratch blocks
    Scratch.releaseAll()
    // ---- contention verdict ----
    val canaryEnd = canaryProbe()
    val anchorEnd = anchorProbe()
    val loadEnd = loadavg1m()
    // committed expected band for the anchor on the reference host
    // class (idle r17 calibration draws: see Bench.AnchorBand). The
    // BEST of the two endpoint draws is classed — a healthy machine
    // achieves the band at least once; a host whose best absolute
    // anchor still exceeds the ceiling is environment-class slow
    // regardless of how stable the within-sweep canary looks. Both
    // per-endpoint classes AND the numeric ratio-to-calibrated are
    // stamped (r17 verdict item 2 / ADVICE: best-of-endpoints against
    // the bare ceiling let a 1.94/2.23 draw stamp "ok" — borderline
    // hosts must be visible in the artifact even when the keep-best
    // policy keys off best-of).
    val anchorBest = Seq(anchorStart, anchorEnd).filter(_ > 0) match {
      case Nil => -1.0
      case xs => xs.min
    }
    val anchorClass = Bench.anchorClassOf(anchorBest)
    val anchorRatio =
      if (anchorBest < 0) -1.0 else anchorBest / Bench.AnchorCalibrated
    val mids = midCanaries.result()
    val canaryRatio =
      if (canaryStart > 0 && canaryEnd > 0)
        math.max(canaryStart, canaryEnd) / math.min(canaryStart, canaryEnd)
      else -1.0
    // mid-sweep verdict: SUSTAINED drift only — two CONSECUTIVE probe
    // points above 1.5× the sweep's floor. A single elevated probe is
    // sub-second noise (the documented ±40% band; a global max/min
    // over 9 points false-flagged an idle sf0.001 smoke at 1.83×),
    // while real contention spans many queries and therefore ≥2
    // adjacent probes at the every-N cadence.
    val gcEnd = gcTotalSec()
    val canarySeq =
      (canaryStart +: mids.map(_._2) :+ canaryEnd).filter(_ > 0)
    val midDrift = canarySeq.size >= 3 && {
      val floor = canarySeq.min * 1.5
      canarySeq.sliding(2).exists(w => w.size == 2 && w.forall(_ > floor))
    }
    val spreads = repSpreads.result()
    // widespread = over a quarter of the spread-eligible queries drift
    // beyond the 1.5× meaningful-comparison band; a single outlier is
    // normal residue, a quarter of the sweep is a busy machine
    val spreadWide = spreads.count(_ > 1.5)
    val spreadFrac =
      if (spreads.nonEmpty) spreadWide.toDouble / spreads.size else 0.0
    // rationale on Bench.canaryContended (spec-pinned in BenchGuardSpec)
    val contended = Bench.canaryContended(canaryStart, canaryEnd) ||
      midDrift || (spreads.size >= 8 && spreadFrac > 0.25)
    // per-query seconds rounded to ms: full nanosecond doubles doubled
    // the line length and got the r7 tail capture truncated mid-JSON
    // (half the round's numbers were only recoverable from the sf1
    // file); ms resolution is already below the documented VM noise
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.result().map("\"" + _ + "\"").mkString("[", ",", "]")
    val midJson = mids
      .map { case (at, s, l, d, a) =>
        s"""{"at":$at,"secs":${r3(s)},"load":${r3(l)},"dirty_mb":$d,"avail_mb":$a}""" }
      .mkString("[", ",", "]")
    // self-describing rep protocol (r15 ADVICE): without this a
    // best-of-2 number (lower median at even rep counts) was
    // indistinguishable from a single draw in the committed artifact
    val overridesJson = repsOverride.toSeq.sorted
      .filter { case (n, _) => results.exists(_._1 == n) }
      .map { case (n, v) => s"\"$n\":$v" }.mkString("{", ",", "}")
    val repsJson =
      s""""reps":{"default":$reps,"policy":"lower_median","overrides":$overridesJson}"""
    val guardJson =
      s""""canary":{"name":"$canaryName","start":${r3(canaryStart)},"end":${r3(canaryEnd)},"mid":$midJson,"ratio":${r3(canaryRatio)},"mid_drift":$midDrift},""" +
        s""""anchor":{"start":${r3(anchorStart)},"end":${r3(anchorEnd)},"expected":[${r3(Bench.AnchorBand._1)},${r3(Bench.AnchorBand._2)}],"calibrated":${r3(Bench.AnchorCalibrated)},"ratio":${r3(anchorRatio)},"class_start":"${Bench.anchorClassOf(anchorStart)}","class_end":"${Bench.anchorClassOf(anchorEnd)}","class":"$anchorClass"},""" +
        s""""loadavg":[${r3(loadStart)},${r3(loadEnd)}],""" +
        s""""gc_sec":${r3(gcEnd)},"heap_peak_mb":${sampleHeapMb()},""" +
        s""""rep_spread_gt1p5_frac":${r3(spreadFrac)},"contended":$contended,$repsJson"""
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,$guardJson,"sf":"$sfDir"}"""
    // The driver's BENCH_rN artifact keeps only a ~2000-char TAIL of
    // this output (r8: the 2.5 KB per-query line lost its head, 28
    // numbers unrecoverable). At 145 queries the full line can NEVER
    // fit that window, so the complete JSON goes ONLY to a repo FILE —
    // committed with the round artifacts, diffable round-over-round —
    // and stdout carries a single short summary line that always
    // parses whole inside the tail (see below).
    // route by corpus so no scale point's sweep can clobber another's
    // artifact (sf1 once overwrote the sf0.1 file when both sweeps ran
    // back-to-back in the end-of-round chain): every scale dir gets
    // BENCH_<dirname>.json, with sf0.1 mapped to the legacy
    // BENCH_full.json name the round artifacts already use
    val dirName = new java.io.File(sfDir).getName
    // an isolated re-time (BENCH_ONLY/FAMILY set) must never clobber
    // the standing full-sweep artifact with a few-query file; an
    // explicit SPARK_GRAFT_BENCH_ARTIFACT names the file directly
    // (the round chain's stream-A/B and sf10 subset points use it)
    val artifact = sys.env.get("SPARK_GRAFT_BENCH_ARTIFACT")
      .map(_.trim).filter(_.nonEmpty).getOrElse {
        if (only.nonEmpty || famOnly.nonEmpty) "BENCH_isolated.json"
        else if (dirName == "sf0.1") "BENCH_full.json"
        else s"BENCH_$dirName.json"
      }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifact), fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: $artifact not written: ${e.getMessage}") }
    // stdout carries exactly ONE JSON line, sized to survive the
    // driver's ~2000-char tail capture WHOLE: printing the full
    // per-query line first left the driver artifact starting mid-key
    // every round (r7-r9). The line keeps the contract shape
    // ("metric"/"value"/"queries") with `queries` trimmed to the 25
    // slowest — the ones a plan audit wants — and points at the
    // committed repo artifact that holds every number.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(25)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$slowest,"queries_shown":"25 slowest of ${results.length}","failed":$failedJson,$guardJson,"sf":"$sfDir","full_queries_in":"$artifact"}""")
    spark.stop()
  }
}
