package graft

/** Dev tool: dump `.explain("formatted")` for every declared query (or a
  * comma-separated subset in arg 2) into a directory of
  * `<name>_<suffix>.txt` files — the round's plan evidence
  * (plans/rN/<query>_before.txt / _after.txt). Plans are captured
  * WITHOUT executing the query (AdaptiveSparkPlan isFinalPlan=false),
  * which is what shows the static shape: Exchange count/placement, join
  * strategy, PushedFilters/ReadSchema, WholeStageCodegen spans.
  *
  * CAVEAT (r18 ADVICE): queries whose body runs behind an EAGER
  * Scratch barrier (cp/cpSorted/seal) execute that body while the
  * DataFrame is BUILT, and the dumped plan shows only the post-barrier
  * scan + sort — the body's shape is not in the dump. Auditing such a
  * query's body means dumping its unsealed frame (the pattern
  * AnalyticsSpec uses via qWindowFuncsScored) or registering a
  * Scratch.planProbe hook (BroadcastAudit does) to capture the
  * pre-seal segment at materialization time.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [sfDir] [names]
  *
  * `runMain graft.PlanDump --executed [sfDir] [name ...]` instead runs
  * the headline queries (or the named ones) and prints each one's
  * executed, post-AQE physical plan to stdout (the PLANS.md source).
  */
object PlanDump {
  private val Headline = Seq(
    "q1_pricing", "q3_shipping", "q5_regional", "q9_profit",
    "imp_entity_transfers", "imp_entity_incremental",
    "dedup_minhash", "dedup_ngram", "ann_bruteforce", "q_sessionize",
    "sketch_hll", "sketch_topk", "sketch_quantile", "text_bigram",
    "q4_priority", "q_pivot", "q_grouping_sets", "q_corr_subquery",
    "q_salted_agg", "text_repetition", "pipe_quota", "pipe_tokenize")

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--executed")) executed(args.drop(1)) else formatted(args)

  private def executed(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Graft.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) args.drop(1).toSeq else Headline
    names.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      // collect() runs df's OWN QueryExecution (count() would build a
      // derived aggregate and leave this plan un-executed), so the
      // printed plan is the post-AQE executed one
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }

  private def formatted(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        // fresh child session per query, as in Bench.timeOne: SQL confs
        // and registered functions are its own, so streaming-composition
        // confs (import_loop) don't leak across; compiled code is shared
        // (Graft.codegenConfs)
        val session = spark.newSession()
        functions.GraftFunctions.register(session)
        val df = SparkEntry.queries(name)(session, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      Scratch.releaseAll()
    }
    spark.stop()
  }
}
