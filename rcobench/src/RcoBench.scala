package rcobench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.Rco
import graft.operators._
import graft.pipeline.RcoEtl
import graft.pipeline.RcoEtl.SiteParams
import graft.sources.Tables

/** The JVM half of the RCO refresh benchmark (`run.py` is the other
  * half: it generates the inputs, builds this, and runs the DuckDB
  * oracles). It calls only the program's public entry points and never
  * `RcoPipeline`, whose memoized frames would turn timings into cache
  * reads.
  *
  * One process, one client, closed loop: a pass runs and loads every
  * site of the workload, one after another, each through
  * `RcoEtl.runSites(spark, Seq(site), ...)`.
  *
  * Modes:
  *  - `timed`: set-up is the JVM start, the session and the input
  *    registration; then passes run until `--seconds` of pass time is
  *    measured (at least one). The first pass is cold: it pays the
  *    JIT, class loading and codegen a freshly started container pays
  *    on every scheduled run.
  *  - `trace`: a cold pass, a warm untraced pass, a warm traced pass
  *    (spans around each site's run), then one pass with every spine
  *    stage forced under its own span; prints the per-layer counters.
  *  - `fixture`: loads each site's history into `--work`/store (the
  *    pre-loaded store of the upsert workload).
  *
  * Usage (from run.py):
  *   rcobench.Main --mode timed|trace|fixture --gen DIR --work DIR
  *     --seconds N --result FILE
  */
object Main {

  case class Site(server: String, params: SiteParams, dir: String)

  /** Table → sink of `RcoEtl.load`, for the per-sink rewrite ratio. */
  val SinkOf: Map[String, String] = Map(
    "CO_Aggregated_Data" -> "sinks.upsert_window",
    "CO_Event_Log" -> "sinks.upsert_window",
    "First_Stop_after_CO_Data" -> "sinks.upsert_window",
    "Gantt_Data" -> "sinks.upsert_window",
    "Event_Log_for_Gantt" -> "sinks.upsert_window",
    "BRANDCODE_data" -> "sinks.replace_dedup",
    "Runtime_per_Day_data" -> "sinks.upsert_by_key",
    "Script_Data" -> "sinks.upsert_by_key")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mode = opt("mode")
    val gen = opt("gen")
    val work = opt("work")
    val store = s"$work/store"
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    val spark = GraftSession.builderFromEnv()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1000.0
    val phases = mutable.LinkedHashMap[String, Double]("session" -> sinceStart)
    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (mode == "trace") {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    val manifest = new ObjectMapper().readTree(new File(s"$gen/manifest.json"))
    val part = if (mode == "fixture") "history" else "lookback"
    val sites = manifest.get("sites").elements().asScala.map { s =>
      val server = s.get("server").asText()
      val cfg = RcoEtl.fleetSiteParams(s.get("config").asInt())
      Site(server, cfg.copy(server = server), s"$gen/sites/$server/$part")
    }.toSeq
    // backfill_wide lands every pass in a fresh store; site_hourly
    // upserts into the pre-loaded one
    val freshStore = manifest.get("store").asText() == "fresh"

    val statuses = mutable.ArrayBuffer.empty[(String, String)]
    def runSite(s: Site): String = {
      val ev = Tables.events(spark, s.dir)
      val st = RcoEtl.runSites(spark, Seq(s.params),
        Rco.downtimeLogDeduped(ev), Rco.productionLog(ev), store)(s.server)
      statuses += s.server -> st
      st
    }
    /** One pass: every site's run+load; returns its seconds. */
    def pass(traced: Boolean = false): Double = {
      if (freshStore) deleteTree(Paths.get(store))
      val t0 = System.nanoTime()
      sites.foreach { s =>
        tracer.filter(_ => traced) match {
          case Some(t) => t.span("pipeline.site")(runSite(s))
          case None => runSite(s)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    // site_hourly, traced runs: a re-run of the same lookback must leave
    // every table's content as the previous pass left it
    val hashChecks = mutable.ArrayBuffer.empty[Boolean]
    var lastHashes = Option.empty[Map[String, String]]
    def checkHashes(): Unit = if (!freshStore) {
      val h = tableHashes(spark, store)
      lastHashes.foreach(_.foreach { case (t, v) =>
        hashChecks += h.get(t).contains(v) })
      lastHashes = Some(h)
    }

    val result = mutable.LinkedHashMap[String, Any]("cores" -> cores)
    def finish(): Unit = {
      result ++= Seq(
        "site_runs" -> statuses.size,
        "site_failures" -> statuses.filterNot(_._2 == "Success").toSeq
          .map { case (s, st) => s"$s: $st" },
        "hash_checks" -> hashChecks.size,
        "hash_failures" -> hashChecks.count(!_))
      writeJson(opt("result"), result.toMap)
    }

    if (mode == "fixture") {
      sites.foreach(runSite)
      finish()
      spark.stop()
      return
    }

    // inputs registered: schema of every site's events read
    sites.foreach(s => Tables.events(spark, s.dir))
    result("setup_s") = sinceStart

    val passTimes = mutable.ArrayBuffer.empty[Double]
    tracer match {
      case None =>
        while (passTimes.isEmpty || passTimes.sum < opt("seconds").toDouble)
          passTimes += pass()
      case Some(t) =>
        // cold, untraced, traced, untraced: passes still speed up as
        // the JIT warms, so the traced pass is compared with the mean
        // of the untraced passes on either side (the tracing overhead)
        passTimes += pass()
        checkHashes()
        passTimes += pass()
        checkHashes()
        t.cachePeakReset()
        val traced = pass(traced = true)
        awaitJobs(t)
        val cachePeak = t.cachePeak
        checkHashes()
        passTimes += pass()
        checkHashes()
        val untraced = (passTimes(1) + passTimes(2)) / 2
        sites.foreach(s => stagePass(spark, t, s))
        val delivered = deliveredRows(spark, sites)
        t.stop()
        awaitJobs(t)
        result("layers") = layerMetrics(t, cores, delivered) ++
          Map("pipeline.cache_peak_bytes" -> cachePeak.toDouble,
            "trace.refresh_s" -> untraced,
            "trace.overhead_s" -> (traced - untraced),
            "jvm.peak_rss_mb" -> vmHwmKb() / 1024.0)
        result("traced_refresh_s") = traced
        writeSpans(t, s"$work/trace_spans.json")
    }
    phases("passes") = sinceStart
    result ++= Seq(
      "refresh_s" -> passTimes.head,
      "pass_s" -> passTimes.toSeq)
    // the DuckDB twin of the CO aggregate, which run.py compares with
    // the CO_Aggregated_Data this run's last pass landed in the store
    Files.writeString(Paths.get(s"$work/co_agg_oracle.sql"),
      graft.SparkEntry.oracleSql("rco_co_agg"))
    if (tracer.isDefined) {
      // the oracle-checked spine queries on the generated inputs
      // (Verify writes them with their oracle SQL, then stops the session)
      graft.Verify.main(Array(gen, s"$work/verify",
        "rco_sessionize,rco_co_agg,rco_brandcode,rco_first_stop," +
          "rco_co_uptime,rco_gantt,rco_gantt_events"))
      phases("verify") = sinceStart
    } else spark.stop()
    result("phases_s") = phases.toMap
    finish()
  }

  /** Rows each output table receives from one pass (counted, untimed,
    * on the pipeline's own output frames). Script_Data is derived in
    * `RcoEtl.load` from CO_Aggregated_Data. */
  def deliveredRows(spark: SparkSession, sites: Seq[Site])
      : Map[String, Long] = {
    val delivered = mutable.Map.empty[String, Long].withDefaultValue(0L)
    sites.foreach { s =>
      val ev = Tables.events(spark, s.dir)
      val (outs, release) = RcoEtl.runReleasable(Rco.downtimeLogDeduped(ev),
        Rco.productionLog(ev), s.params)
      try {
        outs.foreach { case (t, df) => delivered(t) += df.count() }
        outs.get("CO_Aggregated_Data").foreach(df =>
          delivered("Script_Data") += RcoEtl.scriptData(df, s.server).count())
      } finally release()
    }
    delivered.toMap
  }

  /** Each spine stage of one site materialized on its own, under its
    * own span. Frames later stages consume are pinned, as
    * `RcoEtl.runReleasable` pins them, so a stage's span holds its own
    * work and not its inputs'. */
  def stagePass(spark: SparkSession, t: Tracer, s: Site): Unit = {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def pinned(df: DataFrame): DataFrame = {
      val p = CacheScope.pin(df); p.count(); p
    }
    val p = s.params
    val (_, release) = CacheScope.collect {
      val ev = t.span("sources.read") {
        val e = Tables.events(spark, s.dir); noop(e); e }
      val full = t.span("model.canonical_log")(
        pinned(Rco.downtimeLogDeduped(ev)))
      val prod = t.span("model.production_log") {
        val d = Rco.productionLog(ev); noop(d); d }
      val ses = t.span("operators.sessionize")(pinned(Sessionize(
        Rco.coFilter(full, p.coPredicateSql), Sessionize.Params(
          p.triggerParam, p.splitOnCause, p.changeoverFailureNoSplit,
          p.pythonFactor4))))
      val agg = t.span("operators.co_aggregate")(pinned(CoAggregate(ses)))
      val assigned = t.span("operators.assigned_stops")(
        pinned(FirstStopAfterCo.assignedStops(agg, full)))
      t.span("operators.brandcode")(noop(BrandcodeResolve(agg, full)))
      t.span("operators.first_stop") {
        noop(FirstStopAfterCo.firstStops(agg, full, Some(assigned)))
        noop(FirstStopAfterCo.uptimeTillNextCo(agg, full, Some(assigned)))
      }
      t.span("operators.gantt") {
        val g = pinned(GanttGenerate.assignedTagged(agg, full,
          GanttGenerate.constraintLog(full, ses, p.constraintMachineSuffixes)))
        noop(GanttGenerate.ganttDataFromAssigned(g))
        noop(GanttGenerate.eventLogFromAssigned(g))
      }
      t.span("operators.prod_ops") {
        noop(ProdOps.runtimePerDay(full))
        noop(ProdOps.dayStart(full))
        noop(ProdOps.brandcodeMaster(
          prod.filter(col("LineStatus") === "In Production")))
      }
    }
    release()
  }

  val StageSpans: Seq[String] = Seq("sources.read", "model.canonical_log",
    "model.production_log", "operators.sessionize", "operators.co_aggregate",
    "operators.assigned_stops", "operators.brandcode", "operators.first_stop",
    "operators.gantt", "operators.prod_ops")
  val PipelineSpans: Seq[String] = Seq("pipeline.plan", "pipeline.load",
    "pipeline.site")
  val SinkSpans: Seq[String] = Seq("sinks.upsert_window",
    "sinks.upsert_by_key", "sinks.replace_dedup")

  /** Parent of each layer inside a pipeline site. */
  private val ParentOf: Map[String, String] = Map(
    "pipeline.plan" -> "pipeline.site", "pipeline.load" -> "pipeline.site") ++
    SinkSpans.map(_ -> "pipeline.load")

  private def within(layer: String, ancestor: String): Boolean =
    layer == ancestor || ParentOf.get(layer).exists(within(_, ancestor))

  /** Every per-layer counter of one pass: the stage spans from the
    * stage pass, the pipeline and sink spans from the traced pipeline
    * pass. Counters of a span include its children's. */
  def layerMetrics(t: Tracer, cores: Int, delivered: Map[String, Long])
      : Map[String, Double] = {
    val jobs = t.jobs.values.asScala.toSeq.filter(_.spanId >= 0)
    // A write's jobs run on a Spark pool thread whose stack names no
    // program frame; the SQL execution that started them recorded the
    // caller's stack, so fall back to it (and to its root execution's).
    def layerOf(j: JobRec): String = {
      val name = t.spans(j.spanId).name
      if (name != "pipeline.site") name
      else Tracer.derivedLayer(j.callSite)
        .orElse(t.execLayer(j.execId)).getOrElse(name)
    }
    val byLayer = jobs.groupBy(layerOf)
    def sub(ancestor: String): Seq[JobRec] =
      byLayer.toSeq.collect { case (l, js) if within(l, ancestor) => js }
        .flatten
    val filesByLayer = t.filesByExec.asScala.toSeq.groupMapReduce {
      case (e, _) => t.execLayer(e).getOrElse("pipeline.site") }(
      _._2.toLong)(_ + _)
    val sites = t.spans.filter(_.name == "pipeline.site").toSeq

    // wall time and JVM (JIT, GC) ms of each layer
    def loadIv(site: Span): Seq[(Long, Long)] = Tracer.merged(
      sub("pipeline.load").filter(j => j.startMs >= site.startMs &&
        j.startMs <= site.endMs).map(j => (j.startMs, j.endMs)))
    def jvm(iv: Seq[(Long, Long)]): (Long, Long) = iv.map {
      case (a, b) => t.jvmDelta(a, b) }.foldLeft((0L, 0L)) {
      case ((x, y), (a, b)) => (x + a, y + b) }
    val wallMs = mutable.Map.empty[String, Double]
    val jvmMs = mutable.Map.empty[String, (Long, Long)]
    StageSpans.foreach { n =>
      val ss = t.spans.filter(_.name == n).toSeq
      wallMs(n) = ss.map(_.wallNs / 1e6).sum
      jvmMs(n) = jvm(ss.map(s => (s.startMs, s.endMs)))
    }
    wallMs("pipeline.site") = sites.map(_.wallNs / 1e6).sum
    jvmMs("pipeline.site") = jvm(sites.map(s => (s.startMs, s.endMs)))
    val loadIvs = sites.map(loadIv)
    wallMs("pipeline.load") = loadIvs.map(iv => Tracer.unionMs(iv)).sum.toDouble
    jvmMs("pipeline.load") = jvm(loadIvs.flatten)
    // plan = the part of each site not covered by its load's jobs
    wallMs("pipeline.plan") = wallMs("pipeline.site") - wallMs("pipeline.load")
    jvmMs("pipeline.plan") = (jvmMs("pipeline.site")._1 -
      jvmMs("pipeline.load")._1, jvmMs("pipeline.site")._2 -
      jvmMs("pipeline.load")._2)
    SinkSpans.foreach { n =>
      wallMs(n) = sub(n).groupBy(j => sites.indexWhere(s =>
        j.startMs >= s.startMs && j.startMs <= s.endMs)).values
        .map(js => Tracer.unionMs(js.map(j => (j.startMs, j.endMs)))).sum
        .toDouble
    }

    val out = mutable.LinkedHashMap.empty[String, Double]
    def put(name: String, v: Double): Unit = out(name) = v
    (StageSpans ++ PipelineSpans ++ SinkSpans).foreach { n =>
      val js = sub(n)
      val tasks = js.map(_.tasks).sum
      put(s"$n.wall_s", wallMs(n) / 1000.0)
      put(s"$n.cpu_s", js.map(_.cpuNs).sum / 1e9)
      put(s"$n.tasks", tasks.toDouble)
      put(s"$n.shuffle_write_bytes", js.map(_.shuffleWrite).sum.toDouble)
      if (n.startsWith("operators.") || n == "model.canonical_log") {
        put(s"$n.spill_bytes", js.map(_.spill).sum.toDouble)
        put(s"$n.empty_task_ratio",
          if (tasks == 0) 0.0 else js.map(_.emptyTasks).sum.toDouble / tasks)
      }
      if (n.startsWith("pipeline.")) {
        put(s"$n.jit_s", jvmMs(n)._1 / 1000.0)
        put(s"$n.gc_s", jvmMs(n)._2 / 1000.0)
        put(s"$n.jobs", js.size.toDouble)
      }
      if (n == "pipeline.load" || n == "pipeline.site")
        put(s"$n.busy_ratio", if (wallMs(n) <= 0) 0.0
          else js.map(_.runMs).sum / (wallMs(n) * cores))
      if (n.startsWith("sinks.")) {
        put(s"$n.bytes_written", js.map(_.bytesWritten).sum.toDouble)
        put(s"$n.files_written", filesByLayer.getOrElse(n, 0L).toDouble)
        val in = delivered.collect { case (tbl, c) if SinkOf.get(tbl)
          .contains(n) => c }.sum
        put(s"$n.rewrite_ratio", if (in == 0) 0.0
          else js.map(_.recordsWritten).sum.toDouble / in)
      }
    }
    put("pipeline.write_amp",
      sub("pipeline.site").map(_.recordsWritten).sum.toDouble /
        delivered.values.sum)
    out.toMap
  }

  /** Wait until the listener bus has delivered every job's end. */
  private def awaitJobs(t: Tracer): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (t.jobs.values.asScala.exists(_.endMs < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing task and SQL-metric events
  }

  /** Order-independent content hash and row count of every table in
    * the store. Script_Data's Data_Update_Time is the run's own
    * timestamp (the next run's watermark), so it is left out. */
  def tableHashes(spark: SparkSession, store: String): Map[String, String] =
    Option(new File(store).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map { f =>
        val df = spark.read.parquet(f.getPath)
        val cols = df.columns.filterNot(_ == "Data_Update_Time").map(col)
        val r = df.agg(sum(xxhash64(cols.toSeq: _*).cast("decimal(20,0)")),
          count(lit(1))).head()
        f.getName -> s"${r.get(0)}/${r.getLong(1)}"
      }.toMap

  private def vmHwmKb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))
    finally w.close()
  }

  def writeSpans(t: Tracer, path: String): Unit = {
    val rows = t.spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs)
      m.put("wall_ns", s.wallNs); m
    }.asJava
    new ObjectMapper().writeValue(new File(path), rows)
  }

  def writeJson(path: String, m: Map[String, Any]): Unit = {
    def conv(v: Any): Any = v match {
      case x: Map[_, _] => x.map { case (k, v) => k.toString -> conv(v) }.asJava
      case x: Seq[_] => x.map(conv).asJava
      case x => x
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(path), conv(m))
  }
}
