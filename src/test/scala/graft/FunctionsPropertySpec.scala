package graft

import graft.operators.ApproxOps

/** Seeded generative checks for the newest primitives: the native
  * `graft_maxrun` fold against a plain-Scala reference over random
  * arrays (runs, nulls, empties, singletons — shapes the corpus can't
  * force), and the KMV bottom-k merge's monoid laws over random hash
  * sets. Deterministic seeds — a failure replays exactly.
  */
class FunctionsPropertySpec extends SparkSpec {

  private def refMaxRun(xs: Seq[Option[String]]): Long = {
    var best = 0L; var run = 0L; var prev: Option[String] = None
    xs.foreach {
      case None => run = 0L; prev = None
      case some @ Some(x) =>
        run = if (prev.contains(x)) run + 1 else 1L
        best = math.max(best, run); prev = some
    }
    best
  }

  test("graft_maxrun matches the reference fold on 200 seeded random arrays") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    // small alphabet forces runs; occasional nulls break them
    val cases = Seq.fill(200) {
      Seq.fill(rnd.nextInt(30)) {
        if (rnd.nextInt(10) == 0) None
        else Some(("a" + rnd.nextInt(3)).intern())
      }
    } :+ Seq.empty[Option[String]] :+ Seq(Some("x")) :+ Seq(None)
    cases.foreach { xs =>
      val lit = xs.map {
        case Some(s) => s"'$s'"
        case None => "CAST(NULL AS STRING)"
      }.mkString(", ")
      val arr = if (xs.isEmpty) "CAST(array() AS array<string>)" else s"array($lit)"
      val got = spark.sql(s"SELECT graft_maxrun($arr)").head().getLong(0)
      assert(got == refMaxRun(xs), s"maxrun mismatch on $xs: got $got")
    }
  }

  test("graft_simhash_keys matches the spelled-out shift/mask concatenation across geometries") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(733)
    val sigs = Seq.fill(30)(rnd.nextLong() & ((1L << 60) - 1)) :+ 0L :+ ((1L << 60) - 1)
    for ((blocks, t, w) <- Seq((10, 4, 6), (10, 5, 6), (6, 1, 10), (5, 2, 12))) {
      // independent reference: lexicographic combinations, spelled out
      // as SQL shift/mask/concat terms — not SimhashKeys.keys itself
      val subsets = (0 until blocks).combinations(t).toSeq
      sigs.foreach { sig =>
        val want = subsets.map { ss =>
          ss.zipWithIndex.map { case (blk, j) =>
            s"((shiftright(${sig}L, ${blk * w}) & ${(1L << w) - 1}) << ${j * w})"
          }.mkString("(", " | ", ")")
        }.mkString("array(", ", ", ")")
        val row = spark.sql(
          s"SELECT graft_simhash_keys(${sig}L, $blocks, $t, $w) AS got, $want AS want").head()
        assert(row.getSeq[Long](0) == row.getSeq[Long](1),
          s"simhash_keys mismatch at ($blocks,$t,$w) sig=$sig")
      }
    }
  }

  test("graft_lsh_buckets matches the spelled-out long_dot formula across geometries") {
    // the pre-native bucketKeysPlan: bands*bits literal-plane dots,
    // bit_j = IF(dot >= 0, 1, 0), bucket_b = sum shiftleft(bit, k).
    // The native pass must be bit-identical on every geometry —
    // including the production bands=8/bits=16 — or the gate oracles
    // and the r11 ScaleKnobs recall rows silently shift.
    graft.functions.GraftFunctions.register(spark)
    val dim = graft.functions.LshBuckets.Dim
    // INDEPENDENT plane derivation — the md5 first-15-hex-digit parse
    // the DuckDB oracle renders (VectorOps.planeDuck) — NOT
    // LshBuckets.planeComponent: deriving the expectation from the
    // code under test would pin only the banding/summing logic, and a
    // plane-recipe regression (beyond the oracle-covered planes 0-15)
    // would pass silently.
    def planeValue(j: Int, i: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${j}_$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L - 1000L
    }
    def planeLit(j: Int): String =
      (0 until dim).map(i => s"${planeValue(j, i)}L")
        .mkString("array(", ", ", ")")
    val rnd = new scala.util.Random(1031)
    val vecs = Seq.fill(40)(
      Seq.fill(dim)(rnd.nextInt(20001) - 10000L)) ++
      Seq(Seq.fill(12)(rnd.nextInt(2001) - 1000L), // short vector: prefix rule
        Seq.fill(dim)(0L)) // all-zero: every dot == 0 -> all bits set
    for ((bands, bits) <- Seq((4, 4), (8, 16), (2, 8), (1, 1))) {
      vecs.foreach { v =>
        val arr = v.map(x => s"${x}L").mkString("array(", ", ", ")")
        val spelled = (0 until bands).map { b =>
          (0 until bits).map { k =>
            s"shiftleft(IF(long_dot($arr, ${planeLit(b * bits + k)}) >= 0, " +
              s"CAST(1 AS BIGINT), CAST(0 AS BIGINT)), $k)"
          }.mkString(" + ")
        }.mkString("array(", ", ", ")")
        val row = spark.sql(
          s"SELECT graft_lsh_buckets($arr, $bands, $bits) AS got, $spelled AS want").head()
        assert(row.getSeq[Long](0) == row.getSeq[Long](1),
          s"lsh_buckets mismatch at bands=$bands bits=$bits")
      }
    }
  }

  test("graft_simhash(arr, 60) low 32 bits equal graft_simhash32 (prefix pin)") {
    // the parametric width claims its low-32 prefix IS the gate
    // signature (same per-bit votes) — what makes production (60,4)
    // pairs a strict subset of gate pairs in SimhashSpec's sense
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(271)
    val cases = Seq.fill(100)(
      Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong() & ((1L << 60) - 1))) :+
      Seq(0L) :+ Seq((1L << 60) - 1)
    cases.foreach { hs =>
      val arr = hs.map(h => s"${h}L").mkString("array(", ", ", ")")
      val row = spark.sql(
        s"SELECT graft_simhash($arr, 60) & 4294967295 AS lo, " +
          s"graft_simhash32($arr) AS gate, " +
          s"graft_simhash($arr, 32) AS p32").head()
      assert(row.getLong(0) == row.getLong(1), s"prefix mismatch on $hs")
      assert(row.getLong(2) == row.getLong(1), s"width-32 mismatch on $hs")
    }
  }

  test("kmvMerge is a commutative, associative, idempotent monoid on random sketches") {
    val rnd = new scala.util.Random(7)
    val k = ApproxOps.KmvK
    for (_ <- 1 to 50) {
      // three random "per-partition" sketches drawn from one universe
      // (overlap guaranteed), each already bottom-k'd
      val universe = Seq.fill(200)(rnd.nextLong().abs % 1000000L)
      def sketchOf(s: Seq[Long]) = s.distinct.sorted.take(k)
      val Seq(a, b, c) = Seq.fill(3)(
        sketchOf(rnd.shuffle(universe).take(80 + rnd.nextInt(80))))
      val m = ApproxOps.kmvMerge _
      assert(m(Seq(a, b), k) == m(Seq(b, a), k))
      assert(m(Seq(m(Seq(a, b), k), c), k) == m(Seq(a, m(Seq(b, c), k)), k))
      assert(m(Seq(a, a), k) == a)
      // merge == the sketch of the union (the incremental-count law)
      assert(m(Seq(a, b, c), k) == sketchOf(a ++ b ++ c))
    }
  }

  test("graft_adc_dot equals the declarative aggregate/element_at gather on random tables") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(97)
    val nSub = 8; val nCodes = 16
    val rows = Seq.fill(200)((
      Seq.fill(nSub * nCodes)(rnd.nextLong() % 100000L),
      Seq.fill(nSub)(rnd.nextInt(nCodes).toLong)))
    val df = rows.toDF("adc", "codes")
    val native = s"graft_adc_dot(adc, codes, $nCodes)"
    val decl = graft.operators.VectorOps
      .pqAdcDotDeclarative("adc", "codes", nSub, nCodes)
    assert(df.selectExpr(s"$native AS a", s"$decl AS b")
      .filter("NOT (a <=> b)").count() == 0)
    // too-large code -> NULL (element_at's non-ANSI contract)
    val bad = Seq((Seq.fill(nSub * nCodes)(1L),
      Seq.fill(nSub)(nCodes.toLong))).toDF("adc", "codes")
    assert(bad.selectExpr(s"$native AS a").filter("a IS NULL").count() == 1)
    // NEGATIVE code -> NULL too: here the native gather deliberately
    // diverges from the declarative form (element_at would resolve the
    // negative flat index from the END of the ADC table — an in-bounds
    // read of the wrong cell), so the pin is on NULL, not on parity
    val neg = Seq((Seq.fill(nSub * nCodes)(1L),
      (-1L) +: Seq.fill(nSub - 1)(0L))).toDF("adc", "codes")
    assert(neg.selectExpr(s"$native AS a").filter("a IS NULL").count() == 1)
    // and the expression self-reports nullable even over non-nullable
    // inputs — consumers must keep the isNull check in codegen
    assert(df.selectExpr(s"$native AS a").schema("a").nullable)
  }

  /** `graft_json_long`'s corner inputs: every fast-path exit and every
    * fallback class; `None` is a null input.
    */
  private val jsonLongCorners: Seq[Option[String]] = {
    val q = "\""
    Seq(
      """{"k":5}""", """{"a":1,"k":42,"b":"x"}""", """{"k":-7}""", """{"k":0}""",
      """{"k":-0}""", s"""{"k":${Long.MinValue}}""", s"""{"k":${Long.MaxValue}}""",
      """{"k":9223372036854775808}""", """{"k":-9223372036854775809}""",
      """{"k":123456789012345678901234567890}""",
      // floats and exponents
      """{"k":1.5}""", """{"k":-2.0}""", """{"k":1e3}""", """{"k":1E+2}""",
      """{"k":2.5e-3}""", """{"k":1e400}""", """{"k":-0.0}""",
      // quoted numbers and other scalars
      """{"k":"12"}""", """{"k":" 12 "}""", """{"k":"abc"}""", """{"k":"1.9"}""",
      """{"k":""}""", """{"k":"-9223372036854775809"}""", """{"k":true}""", """{"k":false}""",
      // nested objects and arrays
      """{"k":{"a":1}}""", """{"k":[1,2]}""", """{"a":{"k":1}}""", """{"a":[{"k":1}],"k":3}""",
      """{"a":{"b":[1,{"c":2}]},"k":11}""",
      // JSON null, missing field, duplicate keys, escaped keys
      """{"k":null}""", """{"k":null,"k":4}""", """{"a":1}""", """{}""", """{"K":1}""",
      """{"kk":1}""", """{"k":1,"k":2}""", """{"k":"x","k":2}""", """{"k":2,"k":"x"}""",
      s"{${q}\\u006b$q:9}", s"{${q}\\u006b$q:null,${q}k$q:3}", s"{${q}k\\u0000$q:1}",
      // whitespace and quoting
      """ {"k":1}""", """{ "k" : 1 }""", "{\"k\":1}\n", "\t{\"k\":\n2}", """{"k" :1 , "a":2}""",
      """{'k':3}""", """{"k":'3'}""", """{'k':"3"}""", """{"a":'x',"k":3}""",
      // control characters (lenient in Spark's factory only)
      "{\"a\":\"x\u0001y\",\"k\":5}", "{\"k\":5,\"a\":\"\ty\"}", "{\"k\u0001\":1}",
      // malformed before and after the match, trailing garbage
      """{"a":,"k":1}""", """{"a":1 "k":2}""", """{"k":1,"a":}""", """{"k":1,""",
      """{"k":1""", """{"k":1,"a":[}""", """{"k":1,"a":[1,2}""", """{"k":}""",
      """{"k":1}xyz""", """{"k":1}}""", """{"k":1} {"k":2}""", """{"k":1}]""",
      """{"k":NaN}""", """{"k":Infinity}""", """{"k":-Infinity}""", """{"k":007}""",
      """{"k":+1}""", """{"k":01}""", """{"k":1.}""", """{"k":.5}""", """{"k":0x10}""",
      """{k:1}""", """{"k":1,}""", """{,"k":1}""", """{"k"::1}""",
      // empty strings, non-object roots, non-ASCII
      "", "  ", "{", "}", """[{"k":1}]""", "5", "\"k\"", "null", "true", "[]",
      "{\"é\":1,\"k\":2}", "{\"k\":2,\"n\":\"ü\"}", "{\"k\":\"٣\"}", "﻿{\"k\":1}",
      "{\"k\":1" + " " * 9000 + "}", "{\"a\":\"" + "x" * 10000 + "\",\"k\":8}"
    ).map(Some(_)) :+ None
  }

  /** 500 seeded random objects: small key alphabet (k, K, kk, a, b)
    * forces duplicates, misses and near-misses; values span every JSON
    * type; one in four gets one character dropped, doubled or replaced.
    */
  private def jsonLongRandom(seed: Int): Seq[Option[String]] = {
    val rnd = new scala.util.Random(seed)
    def value(depth: Int): String = rnd.nextInt(11) match {
      case 0 | 1 | 2 => rnd.nextLong().toString
      case 3 => (rnd.nextInt(2001) - 1000).toString
      case 4 => "%.3f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 100 - 50)
      case 5 => s""""${rnd.nextInt(100)}""""
      case 6 => "null"
      case 7 => if (rnd.nextBoolean()) "true" else "false"
      case 8 if depth < 2 => obj(depth + 1)
      case 9 if depth < 2 => Seq.fill(rnd.nextInt(3))(value(depth + 1)).mkString("[", ",", "]")
      case _ => s"${rnd.nextInt(10)}e${rnd.nextInt(5)}"
    }
    def obj(depth: Int): String = Seq.fill(rnd.nextInt(5)) {
      val key = Seq("k", "K", "kk", "a", "b")(rnd.nextInt(5))
      s""""$key":${value(depth)}"""
    }.mkString("{", ",", "}")
    Seq.fill(500) {
      val s = obj(0)
      if (rnd.nextInt(4) != 0 || s.length < 3) Some(s)
      else {
        val at = rnd.nextInt(s.length)
        val junks = "{}[],:\"' 0-.x"
        val junk = junks(rnd.nextInt(junks.length))
        Some(rnd.nextInt(3) match {
          case 0 => s.substring(0, at) + s.substring(at + 1)
          case 1 => s.substring(0, at) + s(at) + s.substring(at)
          case _ => s.substring(0, at) + junk + s.substring(at + 1)
        })
      }
    }
  }

  test("graft_json_long equals CAST(get_json_object(s, '$.k') AS BIGINT), values and errors, in both ANSI modes") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val bytesRows = Seq("7B226B223A317D", // {"k":1}
      "7B22C1AB223A317D", // overlong UTF-8 'k' as the key
      "7B226B223A312C2261223A22FF227D", // invalid UTF-8 after the match
      "7B2261223A22E282AC222C226B223A327D") // a valid 3-byte char, then k
    val inputs = jsonLongCorners ++ jsonLongRandom(5150)
    // both branches carry real weight: the byte parser answers many
    // rows, and many go to the reference
    val fast = inputs.flatten.count(s => graft.functions.JsonLong.fastPath(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), "k") != graft.functions.JsonLong.Fallback)
    assert(fast > 150 && inputs.length - fast > 150, s"fast path answered $fast of ${inputs.length}")
    val got = "graft_json_long(s, 'k')"
    val ref = "CAST(get_json_object(s, '$.k') AS BIGINT)"
    def outcome(df: org.apache.spark.sql.DataFrame, e: String): Either[String, Option[Long]] =
      try Right(Option(df.selectExpr(e).head().get(0)).map(_.asInstanceOf[Long]))
      catch {
        case t: org.apache.spark.SparkThrowable => Left(String.valueOf(t.getCondition))
      }
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        // row by row (one-row local relations evaluate interpreted), so a
        // throwing row is told apart from its neighbours
        val one = inputs.map(s => Seq(s).toDF("s")) ++
          bytesRows.map(h => spark.range(1).selectExpr(s"CAST(unhex('$h') AS STRING) AS s"))
        val outcomes = one.map { df =>
          val (a, b) = (outcome(df, got), outcome(df, ref))
          assert(a == b, s"ansi=$ansi on ${df.head().get(0)}: kernel $a, reference $b")
          b
        }
        // the error side really exercised when ANSI is on
        if (ansi == "true") assert(outcomes.count(_.isLeft) > 20)
        else assert(outcomes.forall(_.isRight))
        // generated code over a real scan, on the rows that do not throw
        val ok = inputs.zip(outcomes).collect { case (s, Right(_)) => s }
        val scanned = ok.toDF("s").repartition(3)
        assert(scanned.selectExpr(s"$got AS g", s"$ref AS r")
          .filter("NOT (g <=> r)").count() == 0, s"ansi=$ansi codegen")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
