package graft.functions

import org.apache.logging.log4j.LogManager
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import graft.io.Sessions
import graft.plans.AsOfJoinStrategy

/** Install-once runtime path for the engine's extensions on an EXISTING
  * session. `spark.sql.extensions=graft.functions.GraftExtensions` at
  * session build is the preferred path (what [[graft.io.Sessions]]
  * does), but a host application may hand us its own session, so every
  * entry point calls [[ensure]]: it reads the same [[NativeFunctions]]
  * table as the extension and installs only what the session lacks (the
  * check-then-install pattern), so the call is cheap and silent on every
  * query after the first. Artifact isolation cannot be turned off on a
  * live session, so a host session that has it on gets one WARN per
  * SparkContext instead ([[warnIfIsolated]]).
  */
object GraftRuntime {

  private val log = LogManager.getLogger(getClass)

  /** SparkContexts already warned about artifact isolation (weak keys). */
  private val isolationWarned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** WARN once per SparkContext when `spark` runs with session artifact
    * isolation on (see [[graft.io.Sessions]]); returns whether it warned. */
  private[graft] def warnIfIsolated(spark: SparkSession): Boolean = {
    val warn = spark.conf.get(Sessions.ArtifactIsolation).toBoolean &&
      isolationWarned.putIfAbsent(spark.sparkContext, java.lang.Boolean.TRUE) == null
    if (warn)
      log.warn(s"${Sessions.ArtifactIsolation}=true on this session: each session's " +
        "tasks run under their own executor class loader, so every new session " +
        "recompiles every generated class (and looks up missed classes through " +
        "the driver over RPC). Build the session with " +
        s"${Sessions.ArtifactIsolation}=false (graft.io.Sessions) to compile once per JVM.")
    warn
  }

  /** Install the engine onto `spark`, once: the engine SQL confs
    * ([[graft.io.Sessions.EngineSqlConfs]]), each [[NativeFunctions]]
    * entry the session's registry lacks or binds to a different class (a
    * same-named user or built-in function is replaced), and the AS-OF
    * strategy unless the planner already has it. On a session built with
    * [[GraftExtensions]] this registers nothing. */
  def ensure(spark: SparkSession): Unit = {
    warnIfIsolated(spark)
    Sessions.EngineSqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val registry = spark.sessionState.functionRegistry
    NativeFunctions.all.foreach { f =>
      if (!registry.lookupFunction(f.id).exists(_.getClassName == f.exprClass.getName))
        registry.registerFunction(f.id, f.info, f.build)
    }
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies :+= AsOfJoinStrategy
  }
}
