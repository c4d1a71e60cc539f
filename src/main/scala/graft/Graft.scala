package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way graft's
  * operators expect (UTC semantics for oracle-stable timestamps, AQE
  * with skew-join handling on, sized shuffle parallelism), with
  * graft's native expressions registered.
  */
object Graft {

  /** Comma-separated query-name filter from an env var — the shared
    * parse behind the Bench/Verify isolation filters. Empty or
    * blank-only values mean "no filter" (a lone "" must not silently
    * select zero queries).
    */
  def nameFilter(env: String): Option[Set[String]] =
    sys.env.get(env)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  /** The streaming state store every graft session runs.
    *
    * State lives OFF-HEAP in RocksDB (in-box in Spark 4): even
    * watermark-bounded state at 100 TB (dedup keys, join buffers, the
    * entity folds' active-horizon keys) should not compete with
    * execution memory the way the default in-memory
    * HDFSBackedStateStore does; changelog checkpointing keeps the
    * per-batch upload incremental. Bounded memory caps the native
    * (off-JVM-heap) block-cache + memtable footprint across all store
    * instances — local[32] spins up one store per state partition and
    * unbounded native memory is invisible to the JVM's own limits.
    */
  val stateStoreConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true")

  /** How long compiled code lives: for the JVM, not for one session.
    *
    * Spark 4.1's `CodeGenerator.cache` is keyed by (class loader,
    * generated source). Classic sessions isolate their artifacts by
    * default, so every session, and every streaming query's clone of
    * one, runs its tasks under a class loader of its own. A query
    * started again in the same JVM (an import loop restarted in
    * process, a harness round, a Bench rep, a spec) then misses the
    * cache on every class: it recompiles each one through janino,
    * loads it again and runs it cold. With these entries it reuses the
    * classes an earlier query compiled. The first query of a fresh JVM
    * (a catch-up after a deploy or a process restart) still compiles
    * every class: the cache starts empty.
    *
    *  - `spark.sql.artifact.isolation.enabled=false`: tasks of every
    *    graft session run under the executor's default class loader,
    *    so the cache key is the source alone. This relies on one
    *    condition: graft adds no session artifacts (jars, class files)
    *    and serves no Spark Connect clients, the only users that
    *    artifact isolation protects. Bench's machine probes turn it
    *    back on ([[Bench.probeSession]]): their bars were set on runs
    *    that each compiled their own classes.
    *  - `spark.sql.codegen.cache.maxEntries` (a static conf, read at
    *    the JVM's first code generation; Spark's default is 100): with
    *    isolation off alone, an import loop restarted after the six
    *    entity builds ran in the same JVM still recompiled 54 classes
    *    at sf0.001, because the 100-entry LRU had evicted them. Counted
    *    with the cache unbounded, one perfbench JVM compiles 112
    *    distinct classes on `import_drain` (warm-up, timed rounds,
    *    reads) and 82 on `entity_backfill`, and a `graft.Verify` sweep
    *    of all 155 queries 2 093. 1 000 holds the importer's classes
    *    several times over without pinning every class a full sweep
    *    compiles.
    */
  val codegenConfs: Seq[(String, String)] = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** A session with graft's confs: [[stateStoreConfs]], [[codegenConfs]]
    * and `file:` paths through [[LocalFs]] ([[LocalFs.confs]], the two
    * `spark.hadoop.fs.*` entries). Spark's distribution ships no
    * libhadoop, so Hadoop's local filesystem shells out: its
    * `setPermission` forks `chmod` and its `getFileLinkStatus` forks
    * `readlink`, on every checkpoint log, state-store changelog,
    * checksum and schema file, sink part file and checkpoint rename —
    * about 0.7 ms each, some 250 per import-loop round. `LocalFs`
    * overrides those two methods of `RawLocalFileSystem` with
    * `java.nio` calls.
    */
  def session(master: String = "local[32]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // the corpus' events table carries parquet TIMESTAMP(NANOS),
      // which the vectorized reader only accepts as a raw long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(stateStoreConfs.toMap)
      .config(LocalFs.confs.toMap)
      .config(codegenConfs.toMap)
      .config("spark.ui.enabled", "false")
      // scratch backend selection (see graft.Scratch): set as a
      // BUILDER conf so Bench/Verify's per-query child sessions
      // (spark.newSession() restarts from SparkConf defaults) inherit
      // the choice — a runtime-only set would silently revert to
      // localCheckpoint inside the harnesses
      .config("spark.graft.scratch",
        sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "local"))
      .config("spark.graft.scratch.dir",
        sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR",
          sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-scratch"))
    // single-JVM resilience (r17): the sf10 sweep died when a
    // > 120 s driver stall (GC/writeback under a 64 g heap) tripped
    // the default spark.network.timeout and HeartbeatReceiver
    // "removed" the in-process executor — which in local mode
    // cannot actually be lost, so the removal only destroys the
    // hour of sweep behind it. 600 s rides out multi-minute pauses.
    // LOCAL MASTERS ONLY (r17 ADVICE): builder confs override
    // spark-defaults/spark-submit, so setting any value here on a
    // cluster master would silently clobber a deployment's own
    // timeout choice — there a dead executor must be detected
    // promptly, and the deployment owns the knob. Heartbeats stay at
    // the 10 s default so executor metrics keep flowing.
    val spark = (if (master.startsWith("local"))
      builder.config("spark.network.timeout", "600s")
    else builder).getOrCreate()
    functions.GraftFunctions.register(spark)
    spark
  }
}
