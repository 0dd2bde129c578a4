package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}

import graft.functions.GraftRuntime
import graft.io.Sessions

/** The session factory's class-loader setting: sessions share the
  * executor class loader, so generated code compiles once per JVM. */
class SessionsSpec extends SparkSpec {

  private def aggregate(s: SparkSession): Set[Row] =
    s.range(0, 10000, 1, 4).selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").sum("v").collect().toSet

  test("a new session reuses the classes its parent compiled (no recompiles)") {
    val child = spark.newSession()
    assert(child.conf.get(Sessions.ArtifactIsolation) == "false")
    val expected = aggregate(spark)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(aggregate(child) == expected)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("a host session with artifact isolation on is warned about once per SparkContext") {
    assert(!GraftRuntime.warnIfIsolated(spark))
    def isolated(): SparkSession = {
      val s = spark.newSession()
      s.conf.set(Sessions.ArtifactIsolation, "true")
      s
    }
    assert(GraftRuntime.warnIfIsolated(isolated()))
    assert(!GraftRuntime.warnIfIsolated(isolated()))
  }
}
