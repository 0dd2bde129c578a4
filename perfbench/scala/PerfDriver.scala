package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.adapters.{AdapterConf, Adapters}
import graft.config.{DistConfig, DistTask}
import graft.runner.DistMain

/** Pipeline benchmark driver: one JVM, one local session, a cold pass and
  * warm passes over `DistMain` directions, each pass on a fresh
  * `newSession()` with the memo and cache scopes released first.
  *
  * Usage: `PerfDriver <plan.json> <result.json> <launch_epoch_ms>`
  *
  * The plan (written by `run.py`) names a config template, its directions,
  * optional arrival rounds and the warm-pass budget. A pass binds `{OUT}`
  * and `{PASS}` in the config; per round it lands the round's files (copy,
  * then rename) and runs the directions. An untraced pass calls
  * `DistMain.runDirection` per direction. A traced pass
  * drives the same tasks through the layer entry points (input adapter
  * `load`, output adapter `save`, the `_input` transform, and
  * `DistMain.runDirection` for verify/streaming tasks) inside spans, with
  * cumulative listener counters snapshotted at each span edge after
  * draining the listener bus. The result file is raw: spans, jobs and
  * stream progress; `metrics.py` turns it into layer metrics.
  */
object PerfDriver {

  private val om = new ObjectMapper()

  // ---- wall clock: epoch ms with sub-ms resolution -------------------
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  // ---- listener: cumulative counters + job and stream-progress logs ---
  final class Counters {
    @volatile var jobs, stages, tasks, failedTasks, retriedTasks = 0L
    @volatile var runMs, cpuNs, shuffleW, shuffleR, spill = 0L
    @volatile var inBytes, inRecords, outBytes, outRecords = 0L
    def snapshot: Map[String, Long] = synchronized(Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "retried_tasks" -> retriedTasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "shuffle_write" -> shuffleW,
      "shuffle_read" -> shuffleR, "spill" -> spill, "in_bytes" -> inBytes,
      "in_records" -> inRecords, "out_bytes" -> outBytes,
      "out_records" -> outRecords))
  }

  final class Recorder extends SparkListener {
    val c = new Counters
    var attached = false
    val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
    val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c.synchronized(c.jobs += 1); jobStarts.add((e.jobId, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.synchronized(c.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) c.retriedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleW += m.shuffleWriteMetrics.bytesWritten
        c.shuffleR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  final class StreamRecorder extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      events.add(s"""{"event":"started","id":"${e.id}","timestamp":"${e.timestamp}"}""")
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(s"""{"event":"progress","progress":${e.progress.json}}""")
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      events.add(s"""{"event":"terminated","id":"${e.id}","at_ms":$nowMs}""")
  }

  /** Block until every event posted so far has reached the listeners. The
    * bus accessor is `private[spark]` in Scala but public in bytecode. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  // ---- spans ----------------------------------------------------------
  final case class Span(
      id: Int, parent: Int, name: String, pass: Int, t0: Double, t1: Double,
      c0: Map[String, Long], c1: Map[String, Long], attrs: Map[String, String])

  final class Tracer(spark: SparkSession, rec: Recorder, pass: Int) {
    val spans = ArrayBuffer.empty[Span]
    private var stack = List(-1)
    private var nextId = 0
    def apply[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
      val id = nextId; nextId += 1
      val parent = stack.head
      drain(spark)
      val c0 = rec.c.snapshot
      val t0 = nowMs
      stack = id :: stack
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        drain(spark)
        spans += Span(id, parent, name, pass, t0, t1, c0, rec.c.snapshot, attrs)
      }
    }
  }

  // ---- plan execution -------------------------------------------------
  private def tasksOf(configPath: String, direction: String): Seq[DistTask] =
    DistConfig.parse(new String(Files.readAllBytes(Paths.get(configPath)), "UTF-8"))
      .direction(direction)

  /** Files (not dirs, not hidden/marker files) under a local path. */
  private def dataFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0
      else 1
    walk(new File(path.stripPrefix("file:")))
  }

  /** Land one arrival round: copy each file under a hidden name, then
    * rename it into the stream's source directory. */
  private def land(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles).getOrElse(Array.empty[File]).sortBy(_.getName).foreach { f =>
      val tmp = new File(to, s".${f.getName}.tmp")
      Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp.toPath, new File(to, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** One batch task through the layer entry points, mirroring
    * `DistMain.runBatchTask` (load → optional `_input` transform → save
    * per stream → `CacheScope.releaseAll`). */
  private def tracedBatchTask(
      spark: SparkSession, t: Tracer, task: DistTask, direction: String, i: Int): Unit = {
    val query = task.source.adapter == "graftQuery"
    val layer = if (query) "queries" else "adapters"
    val ia = Adapters.input(task.source.adapter)
    val sourceName = task.source.subName.getOrElse(s"$direction#$i")
    if (query || task.transform.isDefined)
      t("functions.ensure")(graft.functions.GraftRuntime.ensure(spark))
    val streams = t(s"$layer.load", Map("adapter" -> task.source.adapter)) {
      ia.load(spark, task.source.path, sourceName, task.source.partCount,
        AdapterConf(ia.meta, task.source.params))
    }
    val oa = Adapters.output(task.dest.adapter)
    val outConf = AdapterConf(oa.meta, task.dest.params)
    streams.foreach { case (streamName, df0) =>
      var sub = streamName.stripPrefix(sourceName).stripPrefix("/")
      task.dest.subName.foreach(dn => sub = if (sub.isEmpty) dn else s"$dn/$sub")
      val df = task.transform match {
        case Some(sql) => t("runner.transform") {
          graft.functions.GraftRuntime.ensure(spark)
          df0.asInstanceOf[DataFrame].createOrReplaceTempView("_input")
          spark.sql(sql)
        }
        case None => df0.asInstanceOf[DataFrame]
      }
      t(s"$layer.save", Map("adapter" -> task.dest.adapter,
          "source_adapter" -> task.source.adapter, "dest" -> task.dest.path)) {
        oa.save(sub, df, task.dest.path, outConf)
      }
    }
    t("io.cache_release")(graft.io.CacheScope.releaseAll())
  }

  private def tracedTask(
      spark: SparkSession, t: Tracer, task: DistTask, direction: String, i: Int): Unit =
    if (task.verify)
      t("runner.verify")(DistMain.runDirection(spark, Seq(task), direction))
    else if (task.streaming)
      t("streaming.stage", Map("op" -> task.ingest.getOrElse("")))(
        DistMain.runDirection(spark, Seq(task), direction))
    else tracedBatchTask(spark, t, task, direction, i)

  def main(args: Array[String]): Unit = {
    val plan = om.readTree(new File(args(0)))
    val resultPath = args(1)
    val launchMs = args(2).toDouble
    val cores = plan.get("cores").asText()
    val out = new StringBuilder("{")

    // setup: JVM launch → Sessions.local → one trivial job
    val tSession0 = nowMs
    val root = graft.io.Sessions.local("perfbench", cores)
    val tSession1 = nowMs
    root.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    val tReady = nowMs
    out ++= s""""setup_s":${(tReady - launchMs) / 1000},"session_s":${(tSession1 - tSession0) / 1000},"""
    out ++= s""""jvm_to_main_s":${(tSession0 - launchMs) / 1000},"first_job_s":${(tReady - tSession1) / 1000},"""

    val rec = new Recorder
    val srec = new StreamRecorder

    // passes: a cold one, warm ones until the warm budget is spent, then
    // the traced ones; each reads the config with {OUT}/{PASS} bound
    val configText = new String(Files.readAllBytes(Paths.get(plan.get("config").asText())), "UTF-8")
    val directions = plan.get("directions").elements().asScala.map(_.asText()).toSeq
    val rounds = Option(plan.get("rounds")).map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq(""))
    val work = plan.get("work").asText()
    val minWarm = plan.path("min_warm").asInt(1)
    val maxWarm = plan.path("max_warm").asInt(minWarm)
    val warmMs = plan.path("warm_seconds").asDouble(0) * 1000
    val tracedPasses = plan.path("traced_passes").asInt(0)

    val passesJson = ArrayBuffer.empty[String]
    val spansJson = ArrayBuffer.empty[String]
    var prev: SparkSession = null
    var warmSpent = 0.0
    var pi = 0
    def runPass(traced: Boolean): Double = {
      // fresh session per pass after the first; memo and caches of the
      // previous pass are released so a warm pass repeats the work
      val spark =
        if (prev == null) root
        else {
          graft.io.KernelMemo.invalidate(prev)
          graft.io.CacheScope.releaseAll()
          prev.catalog.clearCache()
          root.newSession()
        }
      prev = spark
      val outDir = s"$work/pass_$pi"
      val cfg = s"$work/config_$pi.json"
      Files.write(Paths.get(cfg),
        configText.replace("{OUT}", outDir).replace("{PASS}", pi.toString).getBytes("UTF-8"))
      if (traced) {
        // listeners only for traced passes, so untraced passes stay clean
        if (!rec.attached) { root.sparkContext.addSparkListener(rec); rec.attached = true }
        spark.streams.addListener(srec)
      }
      val tracer = new Tracer(spark, rec, pi)
      val roundsJson = ArrayBuffer.empty[String]
      val dirsJson = ArrayBuffer.empty[String]
      val tPass0 = nowMs
      rounds.foreach { r =>
        val tLand = nowMs
        if (r.nonEmpty) land(new File(r), new File(s"$outDir/incoming"))
        var roundOk = true
        directions.foreach { dir =>
          val tasks = tasksOf(cfg, dir)
          val t0 = nowMs
          val err =
            try {
              if (traced) tasks.zipWithIndex.foreach { case (task, i) =>
                tracedTask(spark, tracer, task, dir, i)
              }
              else DistMain.runDirection(spark, tasks, dir)
              ""
            } catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] pass $pi direction $dir failed: $e")
                e.printStackTrace()
                String.valueOf(e).take(300)
            }
          if (err.nonEmpty) roundOk = false
          dirsJson += s"""{"direction":"$dir","wall_s":${(nowMs - t0) / 1000},""" +
            s""""error":${om.writeValueAsString(err)}}"""
        }
        roundsJson += s"""{"catchup_s":${(nowMs - tLand) / 1000},"ok":$roundOk}"""
      }
      val wall = (nowMs - tPass0) / 1000
      if (traced) {
        drain(spark)
        spark.streams.removeListener(srec)
      }
      passesJson += s"""{"index":$pi,"traced":$traced,"wall_s":$wall,"out":"$outDir",""" +
        s""""rounds":[${roundsJson.mkString(",")}],"directions":[${dirsJson.mkString(",")}],""" +
        s""""t0_ms":$tPass0}"""
      tracer.spans.foreach { s =>
        val files = s.attrs.get("dest").filter(_ => s.name.endsWith(".save") &&
          !s.attrs.get("adapter").exists(_.startsWith("jdbc"))).map(dataFiles).getOrElse(0)
        spansJson += s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","pass":${s.pass},""" +
          s""""t0":${s.t0},"t1":${s.t1},"c0":${om.writeValueAsString(s.c0.asJava)},""" +
          s""""c1":${om.writeValueAsString(s.c1.asJava)},"files":$files,""" +
          s""""attrs":${om.writeValueAsString(s.attrs.asJava)}}"""
      }
      pi += 1
      wall
    }
    runPass(traced = false) // cold
    var warm = 0
    while (warm < minWarm || (warm < maxWarm && warmSpent < warmMs)) {
      warmSpent += runPass(traced = false) * 1000
      warm += 1
    }
    (0 until tracedPasses).foreach(_ => runPass(traced = true))
    if (rec.attached) drain(root)
    // peak RSS of the passes (read before the check-only twin below)
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    // the stream chain's batch twin: the same ingest operators over all
    // arrivals as one static frame (ids rise with arrival order, so the
    // first-arrival claim is the smallest id, as in the stream)
    val twin = Option(plan.get("twin_arrivals")).map { p =>
      val spark = root.newSession()
      import org.apache.spark.sql.functions.col
      def survivors(df: DataFrame, claimOp: String): DataFrame = {
        val losers = graft.streaming.Ingest(spark, claimOp, "", df)
          .filter(col("keeper_id") =!= col("doc_id")).select("doc_id").distinct()
        df.join(losers, Seq("doc_id"), "left_anti")
      }
      val arrivals = spark.read.option("recursiveFileLookup", "true").parquet(p.asText())
      val unique = survivors(arrivals, "url_dedup_claim")
      val text = graft.streaming.Ingest(spark, "extract_html", "", unique)
      survivors(text, "dedup_claim").select("doc_id").collect().map(_.getLong(0)).sorted
    }
    val oracle = Option(plan.get("oracle_queries")).map(_.elements().asScala.map { q =>
      s"${om.writeValueAsString(q.asText())}:" +
        om.writeValueAsString(graft.SparkEntry.oracleSql(q.asText()))
    }.mkString("{", ",", "}")).getOrElse("{}")

    out ++= s""""cores":$cores,"peak_rss_mb":$hwm,"passes":[${passesJson.mkString(",")}],"""
    out ++= s""""spans":[${spansJson.mkString(",")}],"""
    out ++= s""""jobs":[${rec.jobStarts.asScala.map { case (j, t) => s"[$j,$t]" }.mkString(",")}],"""
    out ++= s""""job_ends":[${rec.jobEnds.asScala.map { case (j, t) => s"[$j,$t]" }.mkString(",")}],"""
    out ++= s""""stream_events":[${srec.events.asScala.mkString(",")}],"oracle":$oracle,"""
    out ++= s""""twin_ids":${twin.map(_.mkString("[", ",", "]")).getOrElse("null")}}"""
    Files.write(Paths.get(resultPath), out.toString.getBytes("UTF-8"))
    graft.io.Sessions.stop(root)
  }
}
