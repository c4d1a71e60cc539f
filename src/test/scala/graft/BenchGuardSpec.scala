package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Pins the environment-guard rules every committed BENCH artifact's
  * stamps derive from, so a threshold or protocol edit is a visible
  * spec change rather than a silent drift:
  *
  *  - [[Bench.anchorClassOf]] — the three-level absolute host class
  *    (r17 verdict item 2: ok / degraded / slow, plus fast + unknown),
  *    band edges from the committed [[Bench.AnchorBand]] calibration.
  *  - [[Bench.canaryContended]] — the direction-aware within-sweep
  *    verdict (r18): end-slow = degradation at the tight 1.5× bar;
  *    start-slow = JVM maturation, trips only beyond 2.5×.
  *  - [[Bench.probeSession]] — the session both probes are timed in
  *    compiles its classes afresh, as the runs the bars were set on did.
  */
class BenchGuardSpec extends SparkSpec {

  test("anchorClassOf: five classes at the committed band edges") {
    assert(Bench.anchorClassOf(-1.0) == "unknown") // probe failed
    assert(Bench.anchorClassOf(0.40) == "fast") // below floor: hazard too
    assert(Bench.anchorClassOf(0.55) == "ok") // floor is inclusive-ok
    assert(Bench.anchorClassOf(1.10) == "ok") // the calibrated point
    assert(Bench.anchorClassOf(1.65) == "ok") // 1.5x calibrated exactly
    assert(Bench.anchorClassOf(1.66) == "degraded") // just past 1.5x
    // the r17 sf10 draw that motivated the level: 1.94s best endpoint
    // stamped "ok" under the bare 2x ceiling while being ~1.8x slow
    assert(Bench.anchorClassOf(1.94) == "degraded")
    assert(Bench.anchorClassOf(2.20) == "degraded") // ceiling inclusive
    assert(Bench.anchorClassOf(2.21) == "slow")
  }

  test("canaryContended: end-slow trips at 1.5x (true degradation)") {
    assert(!Bench.canaryContended(start = 0.30, end = 0.44)) // 1.47x
    assert(Bench.canaryContended(start = 0.30, end = 0.46)) // 1.53x
    // the r18 stream32 chain draw: genuinely contended mid-sweep
    // (loadavg 25), end canary 2.24x the start — must still trip
    assert(Bench.canaryContended(start = 1.0, end = 2.24))
  }

  test("canaryContended: start-slow is JVM maturation up to 2.5x") {
    // the four r18 false positives the direction-aware rule retires
    // (flat mids, ok anchors, same-host re-draws at 1.03-1.17):
    assert(!Bench.canaryContended(start = 0.352, end = 0.228)) // 1.54x
    assert(!Bench.canaryContended(start = 1.25, end = 0.789)) // 1.59x
    assert(!Bench.canaryContended(start = 0.451, end = 0.239)) // 1.89x
    assert(!Bench.canaryContended(start = 0.55, end = 0.228)) // 2.41x
    // beyond the maturation band the start direction still trips
    assert(Bench.canaryContended(start = 2.709, end = 0.839)) // 3.23x
  }

  test("canaryContended: failed probes never trip (anchor owns that)") {
    assert(!Bench.canaryContended(start = -1.0, end = 0.3))
    assert(!Bench.canaryContended(start = 0.3, end = -1.0))
    assert(!Bench.canaryContended(start = -1.0, end = -1.0))
  }

  test("probeSession: every probe run compiles its classes, as at calibration") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def compiled(s: SparkSession): Long = {
      val before = compiles.getCount
      s.range(0L, 100000L, 1L, 4)
        .selectExpr("pmod(hash(id), 1000) AS k", "id % 1000 AS v")
        .groupBy("k").sum("v")
        .write.mode("overwrite").format("noop").save()
      compiles.getCount - before
    }
    compiled(Bench.probeSession(spark)) // warm
    assert(compiled(Bench.probeSession(spark)) > 0)
    assert(compiled(Bench.probeSession(spark)) > 0)
    // the contrast: a plain child session reuses the classes compiled
    // before it (Graft.codegenConfs)
    compiled(spark.newSession())
    assert(compiled(spark.newSession()) == 0)
  }
}
