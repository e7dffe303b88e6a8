package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's own record of each call it makes into the program:
  * name (`<module>.<Object>.<fn>`), wall-clock interval, and whether it is
  * one of the timed operations. Spans nest; the client is one thread.
  */
final case class Span(name: String, startMs: Long, endMs: Long, nanos: Long, op: Int) {
  def module: String = name.takeWhile(_ != '.')
  def ms: Double = nanos / 1e6
}

final class Spans {
  val all = mutable.ArrayBuffer[Span]()
  /** Index of the timed operation the client is inside, or -1. */
  var op: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally all += Span(name, t0, System.currentTimeMillis(), System.nanoTime() - n0, op)
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq

  /** Innermost span open at wall time `t`. */
  def at(t: Long): Option[Span] =
    all.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => (s.startMs, -s.endMs)).lastOption
}

/** A completed stage, as the listener saw it. */
final case class StageRec(id: Int, submitted: Long, completed: Long, tasks: Int, details: String,
                          runMs: Long, cpuNs: Long, shuffleWriteBytes: Long,
                          shuffleReadRecords: Long, inputBytes: Long, outputBytes: Long,
                          spillBytes: Long)

/** Collects every completed stage's task metrics and every job start.
  * Registered only for traced runs.
  */
final class StageListener extends SparkListener {
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** SQL execution id -> the call site of the action that started it. */
  val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** stage id -> SQL execution id of the job that ran it. */
  val stageExecutions = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile var markersSeen: Set[String] = Set.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add(e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => e.stageIds.foreach(stageExecutions.put(_, x.toLong)))
    Option(e.properties).flatMap(p => Option(p.getProperty(StageListener.MarkerKey)))
      .foreach(markerJobs.put(e.jobId, _))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.get(e.jobId)).foreach(k => markersSeen += k)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId, s.details)
    case _ => ()
  }

  /** The stage's own call site, else that of the SQL action it ran for
    * (adaptive query stages run on engine threads with no user frames).
    */
  def callSites(s: StageRec): Seq[String] =
    s.details +: Option(stageExecutions.get(s.id)).flatMap(x => Option(executionSites.get(x))).toSeq

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val sub = i.submissionTime.getOrElse(0L)
    if (m != null) stages.add(StageRec(i.stageId, sub, i.completionTime.getOrElse(sub), i.numTasks,
      i.details, m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.recordsRead, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object StageListener {
  val MarkerKey = "perfbench.marker"

  /** Wait until the listener has seen every event posted before now: run
    * a one-task marker job and wait for its end to reach the listener
    * (one queue, delivered in order).
    */
  def drain(sc: SparkContext, l: StageListener): Unit = {
    val key = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!l.markersSeen(key) && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}

/** Per-layer attribution of Spark work: each stage belongs to the module
  * of the innermost `graft.<module>` frame in its call site (for a stage
  * the adaptive planner submitted from an engine thread, the call site of
  * the SQL action it ran for). A stage with no such frame (a frame the
  * program returned lazily and the benchmark materialized) belongs to the
  * module of the innermost benchmark span open when it was submitted.
  *
  * `graft.ingest` and `graft.core` only build Column expressions and never
  * run an action, so no stage can carry their frame as its innermost one;
  * they are measured as kernels instead (see [[Kernels]]).
  */
object Attribution {
  val Modules: Seq[String] = Seq("pipeline", "lake", "ops", "versions")

  private val Frame = """^graft\.([a-z]+)\.""".r.unanchored

  def moduleOf(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.linesIterator)
      .collectFirst { case l if l.startsWith("graft.") => l }
      .flatMap { case Frame(m) => Some(m); case _ => None }

  /** Metrics for the first `window` timed operations, per operation. */
  def metrics(l: StageListener, spans: Spans, window: Int): Seq[(String, Double, String)] = {
    val ops = spans.all.filter(s => s.op >= 0 && s.op < window && isOpSpan(s)).toSeq
    val nOps = math.max(1, ops.map(_.op).distinct.size)
    def inWindow(t: Long) = ops.exists(s => s.startMs <= t && t <= s.endMs)
    val stages = l.stages.asScala.toSeq.filter(s => inWindow(s.submitted))
    val byModule = stages.groupBy { s =>
      l.callSites(s).flatMap(moduleOf).headOption
        .orElse(spans.at(s.submitted).map(_.module)).getOrElse("bench")
    }
    val perModule = Modules.flatMap { m =>
      val ss = byModule.getOrElse(m, Nil)
      def sum(f: StageRec => Double) = ss.map(f).sum / nOps
      Seq(
        (s"$m.tasks", sum(_.tasks.toDouble), "count"),
        (s"$m.executor_run_s", sum(_.runMs / 1e3), "s"),
        (s"$m.executor_cpu_s", sum(_.cpuNs / 1e9), "s"),
        (s"$m.shuffle_write_bytes", sum(_.shuffleWriteBytes.toDouble), "bytes"),
        (s"$m.shuffle_read_records", sum(_.shuffleReadRecords.toDouble), "count"),
        (s"$m.input_bytes", sum(_.inputBytes.toDouble), "bytes"),
        (s"$m.output_bytes", sum(_.outputBytes.toDouble), "bytes"),
        (s"$m.spill_bytes", sum(_.spillBytes.toDouble), "bytes"))
    }
    val jobs = l.jobStarts.asScala.count(t => inWindow(t))
    perModule ++ Seq(
      ("spark.jobs", jobs.toDouble / nOps, "count"),
      ("spark.stages", stages.size.toDouble / nOps, "count"),
      ("spark.tasks", stages.map(_.tasks).sum.toDouble / nOps, "count"),
      ("spark.driver_gap_s", driverGap(l, spans), "s"))
  }

  /** Top-level spans of timed operations (not their nested calls). */
  private def isOpSpan(s: Span): Boolean = s.name.startsWith("op.")

  /** Mean per operation of its wall time not covered by a running stage. */
  private def driverGap(l: StageListener, spans: Spans): Double = {
    val ops = spans.all.filter(s => s.op >= 0 && isOpSpan(s))
    if (ops.isEmpty) return 0.0
    val iv = l.stages.asScala.toSeq.map(s => (s.submitted, s.completed)).sortBy(_._1)
    val gaps = ops.map { op =>
      var covered = 0L
      var cur = op.startMs
      iv.foreach { case (a, b) =>
        val lo = math.max(a, cur)
        val hi = math.min(b, op.endMs)
        if (hi > lo) { covered += hi - lo; cur = hi }
      }
      (op.endMs - op.startMs - covered) / 1e3
    }
    gaps.sum / gaps.size
  }
}

/** JVM-wide counters: collector time and heap-pool peaks. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Byte accounting of artifact roots by listing: a file counts as written
  * when its (path, length, mtime) is new since the earlier listing.
  */
object Bytes {
  type Listing = Map[String, (Long, Long)]

  def list(root: String): Listing = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val w = java.nio.file.Files.walk(p)
    try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
      f.toString -> ((java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis))
    }.toMap
    finally w.close()
  }

  def total(l: Listing): Long = l.values.map(_._1).sum

  def written(before: Listing, after: Listing): Long =
    after.collect { case (k, v) if !before.get(k).contains(v) => v._1 }.sum
}
