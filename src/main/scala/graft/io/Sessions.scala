package graft.io

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the engine.
  *
  * All entry points (Verify, Bench, DistMain, tests) go through here so the
  * scale-relevant defaults are applied uniformly:
  *
  *  - AQE on (runtime re-plan, skew-join handling, partition coalescing) —
  *    the setting that matters most at 100 TB;
  *  - `spark.sql.shuffle.partitions` sized to the local core count (the
  *    harness runs local[32]; on a real cluster this is overridden per job);
  *  - the engine SQL confs ([[EngineSqlConfs]]), which
  *    [[graft.functions.GraftRuntime.ensure]] also sets on a host session;
  *  - session artifact isolation off ([[ArtifactIsolation]]): the engine
  *    adds no session artifacts (no `addArtifact`/`addJar`), and with
  *    isolation on (the Spark 4 default) every session's tasks run under
  *    their own executor class loader. `CodeGenerator`'s cache is keyed by
  *    class loader, so each new session (every `newSession()`, every
  *    streaming query's clone) recompiles every generated class, and each
  *    class name janino misses is looked up through the driver over RPC.
  *    Off, tasks run on the executor's shared loader and a class compiles
  *    once per JVM. The conf is read only when a session is created
  *    ([[withSharedClassLoader]] states it for every builder).
  */
object Sessions {
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Spark's per-session artifact isolation conf; fixed at session creation. */
  val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** The engine's class-loader setting, for any session builder (the local
    * factory here and `DistMain`'s cluster path). */
  def withSharedClassLoader(builder: SparkSession.Builder): SparkSession.Builder =
    builder.config(ArtifactIsolation, "false")

  /** SQL confs the engine's results depend on, for a session built here
    * and for one handed over by a host (set again at runtime by
    * [[graft.functions.GraftRuntime.ensure]]; both are runtime confs):
    *  - UTC session timezone: the cross-engine determinism contract is UTC
    *    wall-clock arithmetic (docs/determinism.md), and a session left on
    *    a local timezone would silently shift every instant↔NTZ cast;
    *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the harness `events`
    *    table stores TIMESTAMP(NANOS) which Spark 4 otherwise refuses
    *    (PARQUET_TYPE_ILLEGAL); we read the raw ns longs and convert in
    *    [[Tables]]. */
  val EngineSqlConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def local(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val spark = withSharedClassLoader(SparkSession.builder())
      .config(EngineSqlConfs)
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      // BloomFilterAggregate (the decontamination scale branch) silently
      // clamps its (numItems, numBits) arguments to these confs — the
      // defaults (4M items / 64M bits) kick in exactly when the eval set
      // is big enough to need the bloom path, so the stated 8-bits/item
      // sizing would quietly stop holding (ADVICE r14). 256M items /
      // 2^31 bits = a 256 MiB worst-case filter — bounded driver/
      // broadcast bytes at any corpus size; past THIS clamp the FP rate
      // (and the confirm-join input) grows, which decontaminateBloom
      // documents — results stay exact via the confirm join either way.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "268435456")
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "2147483648")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", sys.props.getOrElse("spark.ui.enabled", "false"))
      // long-lived sessions (the 169-query bench runs ~350 query
      // executions in one JVM): the SQL status store retains 1000
      // executions of plan/metric graphs by default even with the UI
      // off — that accumulation, plus per-execution listener state, is
      // driver memory that never helps a headless run. Keep a small
      // window so late-suite queries see the same JVM the early ones
      // did (r10: tail-of-suite queries degraded 5-20x in long runs).
      .config("spark.sql.ui.retainedExecutions", "25")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.worker.ui.retainedExecutors", "10")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Canonical shutdown: release the kernel memo BEFORE stopping — the
    * memo's weak-keyed map cannot GC its entries on its own (the frames
    * pin the session; see [[KernelMemo]]), so the explicit invalidate
    * is the release path for long-lived JVMs that churn sessions. */
  def stop(spark: SparkSession): Unit = {
    KernelMemo.invalidate(spark)
    CacheScope.releaseAll()
    spark.stop()
  }
}
