package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

import graft.functions.{GraftRuntime, NativeFunctions}
import graft.plans.AsOfJoinStrategy

/** The one native-function table and its two install paths: the session
  * extension (`Sessions.local`) and the install-once `GraftRuntime.ensure`
  * (a session a host application hands over). */
class NativeFunctionsSpec extends SparkSpec {

  private val names = NativeFunctions.all.map(_.name)

  private def builders(s: SparkSession): Map[String, AnyRef] =
    names.map(n => n -> s.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier(n)).get).toMap

  private def assertTableInstalled(s: SparkSession): Unit =
    NativeFunctions.all.foreach { f =>
      val info = s.sessionState.functionRegistry.lookupFunction(f.id)
      assert(info.map(_.getClassName).contains(f.exprClass.getName), f.name)
    }

  private def asOfStrategies(s: SparkSession): Int =
    s.sessionState.planner.strategies.count(_ == AsOfJoinStrategy)

  /** A session on the shared SparkContext built WITHOUT graft's
    * extensions, as a host application may hand one over. Spark offers no
    * public way to build one once the SparkContext carries
    * `spark.sql.extensions`, so this calls the session's primary
    * constructor (the one `newSession()` uses) with empty extensions. */
  private def hostSession(): SparkSession = {
    val ctor = spark.getClass.getDeclaredConstructors.find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(spark.sparkContext, Some(spark.sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }

  test("the table holds 28 unique names, exactly what the extension installs") {
    assert(names.size == 28 && names.distinct.size == 28)
    val fresh = spark.newSession()
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    val installed = fresh.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    assert(installed -- builtin == names.toSet)
    assertTableInstalled(fresh)
  }

  test("ensure keeps each function's expression class (DESCRIBE FUNCTION names it)") {
    GraftRuntime.ensure(spark)
    assertTableInstalled(spark)
    val described = spark.sql("DESCRIBE FUNCTION dot_f").collect().map(_.getString(0))
    assert(described.contains("Class: graft.functions.DotProductF"), described.mkString("\n"))
  }

  test("ensure restores only the dropped names, and a second ensure registers nothing") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val dropped = Set("dot_f", "marker_scores", "bloom_agg")
    dropped.foreach(n => assert(registry.dropFunction(FunctionIdentifier(n))))
    val keptBefore = names.filterNot(dropped).map(n =>
      n -> registry.lookupFunctionBuilder(FunctionIdentifier(n)).get).toMap

    GraftRuntime.ensure(s)
    assertTableInstalled(s)
    val first = builders(s)
    keptBefore.foreach { case (n, b) => assert(first(n) eq b, n) }

    GraftRuntime.ensure(s)
    val second = builders(s)
    names.foreach(n => assert(second(n) eq first(n), n))
  }

  test("ensure replaces a same-named function bound to another class") {
    val s = spark.newSession()
    s.udf.register("dot_f", (x: Int) => x)
    GraftRuntime.ensure(s)
    assertTableInstalled(s)
    assert(s.sql("SELECT dot_f(array(1f, 2f), array(3f, 4f))").head().getDouble(0) == 11.0)
  }

  test("the AS-OF strategy is planned once after ensure on an extension session") {
    GraftRuntime.ensure(spark)
    GraftRuntime.ensure(spark)
    assert(asOfStrategies(spark) == 1)
  }

  test("a host session without the extension gets every function and the strategy once") {
    val host = hostSession()
    host.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert(names.forall(n =>
      host.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(n)).isEmpty))
    assert(asOfStrategies(host) == 0)

    GraftRuntime.ensure(host)
    assertTableInstalled(host)
    assert(asOfStrategies(host) == 1)
    graft.io.Sessions.EngineSqlConfs.foreach { case (k, v) => assert(host.conf.get(k) == v, k) }
    assert(host.sql("SELECT dot_f(array(1f, 2f), array(3f, 4f))").head().getDouble(0) == 11.0)

    val first = builders(host)
    GraftRuntime.ensure(host)
    assert(asOfStrategies(host) == 1)
    names.foreach(n => assert(builders(host)(n) eq first(n), n))
  }
}
