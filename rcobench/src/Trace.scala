package rcobench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** JIT and GC time of this JVM, in milliseconds. */
object JvmClock {
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported)
    jit.getTotalCompilationTime else 0L
  def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
}

/** A benchmark span: one call into a layer, timed on the benchmark's
  * thread. Times are epoch milliseconds (the clock Spark's listener
  * events carry) plus a nanosecond duration. */
case class Span(id: Int, name: String, parent: Int, startMs: Long,
    var endMs: Long = 0L, var wallNs: Long = 0L)

/** Per-job facts the listener collects. */
class JobRec(val jobId: Int, val startMs: Long, val spanId: Int,
    val execId: Long, val callSite: String) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var emptyTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
}

/** Spans around the benchmark's calls into each layer, and a
  * `SparkListener` that attributes Spark's own task metrics to them.
  *
  * A span is pushed onto the calling thread's job tags
  * (`rcobench-span-<id>`); Spark copies local properties to the
  * threads a call starts (the concurrent table writes of
  * `RcoEtl.load`, broadcast exchanges), so every job a span causes
  * carries its tag. Job tags are used rather than job groups because
  * broadcast exchanges overwrite the group with their own.
  *
  * Jobs that run inside `RcoEtl.runSites` are refined by their call
  * site (the long form Spark records in `StageInfo.details`, or the
  * one its SQL execution recorded when the job runs on a Spark pool
  * thread): a job whose stack passes through `ParquetSinks.upsertWindow`
  * belongs to `sinks.upsert_window`, one through `RcoEtl.load` to
  * `pipeline.load`, and the rest of the site (the shared-log
  * materialization and anything `runReleasable` runs) to
  * `pipeline.plan`. These are "derived" spans: a sink's or the load's
  * wall time is the union of its jobs' intervals, and the plan's is the
  * site's wall time minus the load's.
  *
  * A sampler thread reads JIT and GC time every few milliseconds so
  * any interval's JIT/GC share can be read back. */
class Tracer(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  // executionId -> (call site of the action, root executionId)
  private val execs = new ConcurrentHashMap[Long, (String, Long)]()
  // executionId -> accumulator ids of "number of written files"
  private val fileAccums = new ConcurrentHashMap[Long, Set[Long]]()
  val filesByExec = new ConcurrentHashMap[Long, Long]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var cached = 0L
  @volatile var cachePeak = 0L

  private val samples = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    while (sampling) {
      val s = (System.currentTimeMillis(), JvmClock.jitMs, JvmClock.gcMs)
      samples.synchronized { samples += s }
      Thread.sleep(5)
    }
  }, "rcobench-jvm-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Unit = { sampling = false; sampler.join() }

  /** Start a new cache high-water mark from what is cached now. */
  def cachePeakReset(): Unit = synchronized { cachePeak = cached }

  private def tag(id: Int) = s"rcobench-span-$id"

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      System.currentTimeMillis())
    spans += s
    parent.foreach(p => sc.removeJobTag(tag(p.id)))
    sc.addJobTag(tag(s.id))
    stack.push(s)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.removeJobTag(tag(s.id))
      parent.foreach(p => sc.addJobTag(tag(p.id)))
    }
  }

  private def spanOf(tags: Iterable[String]): Int = tags
    .collectFirst { case t if t.startsWith("rcobench-span-") =>
      t.stripPrefix("rcobench-span-").toInt }.getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.sortBy(_.stageId).lastOption
      .map(_.details).getOrElse("")
    val r = new JobRec(e.jobId, e.time, spanOf(tags), exec, site)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(stageJob.put(_, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      r.synchronized {
        r.tasks += 1
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          r.emptyTasks += 1
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.diskBytesSpilled
        r.bytesWritten += m.outputMetrics.bytesWritten
        r.recordsWritten += m.outputMetrics.recordsWritten
      }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val old = Option(blocks.put(b.blockId.name, size)).getOrElse(0L)
      cached += size - old
      cachePeak = math.max(cachePeak, cached)
    }
  }

  private def writtenFileAccums(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(_.name == "number of written files")
      .map(_.accumulatorId) ++ p.children.flatMap(writtenFileAccums)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId,
        (s.details, s.rootExecutionId.getOrElse(s.executionId)))
      fileAccums.put(s.executionId, writtenFileAccums(s.sparkPlanInfo).toSet)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      fileAccums.merge(u.executionId, writtenFileAccums(u.sparkPlanInfo).toSet,
        (a, b) => a ++ b)
    case d: SparkListenerDriverAccumUpdates =>
      val ids = Option(fileAccums.get(d.executionId)).getOrElse(Set.empty)
      val n = d.accumUpdates.collect { case (id, v) if ids(id) => v }.sum
      if (n > 0) filesByExec.merge(d.executionId, n, (a, b) => a + b)
    case _ =>
  }

  /** The layer named by the call site of a SQL execution's action, or
    * of its root execution's. */
  def execLayer(exec: Long): Option[String] = Option(execs.get(exec))
    .flatMap { case (details, root) =>
      Tracer.derivedLayer(details)
        .orElse(if (root != exec) execLayer(root) else None) }

  /** JIT and GC milliseconds spent inside [fromMs, toMs]. */
  def jvmDelta(fromMs: Long, toMs: Long): (Long, Long) =
    samples.synchronized {
      def at(t: Long) = samples.findLast(_._1 <= t).orElse(samples.headOption)
        .getOrElse((t, 0L, 0L))
      val (a, b) = (at(fromMs), at(toMs))
      (b._2 - a._2, b._3 - a._3)
    }
}

object Tracer {
  /** The layer a pipeline-site job belongs to, from its call site. */
  def derivedLayer(callSite: String): Option[String] = {
    def has(frame: String) = callSite.contains(frame)
    if (has("ParquetSinks$.upsertWindow(")) Some("sinks.upsert_window")
    else if (has("ParquetSinks$.upsertByKey(")) Some("sinks.upsert_by_key")
    else if (has("ParquetSinks$.replaceDedup(")) Some("sinks.replace_dedup")
    else if (has("RcoEtl$.load(") || has("RcoEtl$.$anonfun$load$"))
      Some("pipeline.load")
    else if (has("RcoEtl$.runSites(") || has("RcoEtl$.runReleasable("))
      Some("pipeline.plan")
    else None
  }

  /** Total length of the union of [start, end] intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long =
    merged(iv).map { case (a, b) => b - a }.sum

  /** The intervals merged where they overlap. */
  def merged(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter { case (a, b) => b >= a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ca, cb) :: rest, (a, b)) if a <= cb =>
          (ca, math.max(cb, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse
}
