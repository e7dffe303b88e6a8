package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Everything one run of one workload shares. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val tiny: Boolean, val work: String) {
  val spans = new Spans
  var attempted = 0
  var failed = 0
  val listener: Option[StageListener] =
    if (trace) Some(new StageListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  /** Scale a full-size count down for the smoke input. */
  def size(full: Int): Int = if (tiny) math.max(20, full / 20) else full

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getPath
  }

  /** Mark the running operation failed (its output check did not hold). */
  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  /** One output check: counted as an attempted operation, failed when it
    * does not hold or cannot be evaluated.
    */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case NonFatal(e) => System.err.println(s"[perfbench] $what: $e"); false }
    if (!good) fail(what)
  }

  /** Set up from scratch in a fresh directory; returns the state and the
    * set-up wall in seconds. This is the JVM's first work, so it includes
    * the engine's cold start as every run pays it.
    */
  def setup[S](body: String => S): (S, Double) = {
    val t0 = System.nanoTime()
    val st = body(dir("setup"))
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: $wall%.2f s")
    (st, wall)
  }

  /** The closed loop: `op(i)` runs the i-th timed operation inside the
    * span `op.<kind>` and returns its row count; untimed preparation and
    * checks happen in `prep(i)` / `after(i, rows)`. Runs whole rounds of
    * `round` operations, at least two, until the timed total reaches
    * `seconds`: every run times the same mix, and the median round is never
    * the run's first.
    */
  def loop(kind: Int => String, round: Int)(prep: Int => Unit)(op: Int => Long)
          (after: (Int, Long) => Unit): Seq[Span] = {
    roundSize = round
    var i = 0
    var timed = 0.0
    val hardStop = System.nanoTime() + ((seconds * 4 + 60) * 1e9).toLong
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    while ((timed < seconds || i < 2 * round || i % round != 0) && System.nanoTime() < hardStop) {
      prep(i)
      spans.op = i
      attempted += 1
      val rows = try spans(s"op.${kind(i)}")(op(i)) catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e"); e.printStackTrace(); -1L
      }
      spans.op = -1
      opRows += rows
      timed += spans.all.last.nanos / 1e9
      System.err.println(f"[perfbench] op $i ${kind(i)}: ${spans.all.last.ms}%.0f ms")
      if (rows >= 0) after(i, rows)
      i += 1
    }
    gcSeconds = (Jvm.gcMs - gc0) / 1e3
    heapPeakMb = Jvm.heapPeakMb
    spans.all.filter(_.name.startsWith("op.")).toSeq
  }
  var gcSeconds = 0.0
  var heapPeakMb = 0.0
  private var roundSize = 1
  private val opRows = mutable.ArrayBuffer[Long]()

  /** Throughput of the median round (lower median by wall, so with two
    * rounds the faster: the tail of the JVM's warm-up lands in the first)
    * and the median operation.
    */
  def loopMetrics(ops: Seq[Span]): Seq[Metric] = {
    val rounds = ops.indices.grouped(roundSize).filter(_.size == roundSize).map { idx =>
      (idx.map(ops(_).nanos / 1e9).sum, idx.size, idx.map(i => math.max(0L, opRows(i))).sum)
    }.toSeq.sortBy(_._1)
    val (secs, n, rows) = rounds((rounds.size - 1) / 2)
    Seq(Metric("ops_per_s", n / secs, "1/s"), Metric("rows_per_s", rows / secs, "1/s"),
      Metric("op_p50_ms", Stats.median(ops.map(_.ms)), "ms"))
  }

  /** Median wall (in `unit`) of every span with this name, 0 if none ran. */
  def spanMetric(name: String, unit: String): Metric = {
    val xs = spans.named(name).map(_.ms)
    Metric(name + "_" + unit, if (unit == "s") Stats.median(xs) / 1e3 else Stats.median(xs), unit)
  }

  /** The per-layer metrics every workload reports from the listener. */
  def layerMetrics(window: Int): Seq[Metric] =
    listener.toSeq.flatMap { l =>
      StageListener.drain(spark.sparkContext, l)
      Attribution.metrics(l, spans, window).map { case (n, v, u) => Metric(n, v, u) }
    } ++ Seq(Metric("jvm.gc_s", gcSeconds, "s"), Metric("jvm.heap_peak_mb", heapPeakMb, "MB"),
      Metric("bench.op_p50_ms", Stats.median(spans.all.filter(_.name.startsWith("op.")).map(_.ms).toSeq), "ms"))
}

/** Every metric a run prints, by name and unit: each end-to-end metric on
  * every workload; each per-layer metric in every traced run, 0 where the
  * workload does not exercise that layer. BENCHMARK.json lists the same.
  */
object Registry {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "rows_per_s" -> "1/s", "op_p50_ms" -> "ms",
    "write_amp" -> "ratio", "space_amp" -> "ratio")

  val perLayer: Seq[(String, String)] =
    Attribution.Modules.flatMap(m => Seq(
      s"$m.tasks" -> "count", s"$m.executor_run_s" -> "s", s"$m.executor_cpu_s" -> "s",
      s"$m.shuffle_write_bytes" -> "bytes", s"$m.shuffle_read_records" -> "count",
      s"$m.input_bytes" -> "bytes", s"$m.output_bytes" -> "bytes", s"$m.spill_bytes" -> "bytes")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.driver_gap_s" -> "s", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
      "bench.op_p50_ms" -> "ms") ++
    Seq("pipeline.IngestJob.run", "pipeline.IngestJob.summarize", "pipeline.HarvestJobs.harvest")
      .map(n => s"${n}_s" -> "s") ++
    Seq("lake.LakeTable.bytes_written" -> "bytes") ++
    ServeMix.Kinds.map(k => s"${k._2}_ms" -> "ms") ++
    Seq("lookup_p50_ms", "range_p50_ms", "agg_p50_ms", "probe_p50_ms").map(_ -> "ms") ++
    DocStore.Roots.map(r => s"$r.bytes" -> "bytes") ++
    Seq("lake.BloomIndex.files_opened_ratio", "lake.ZoneMapIndex.files_opened_ratio",
      "bench.repeated_request_ratio").map(_ -> "ratio") ++
    Seq("minhash_sig", "rolling_hash", "dot_byte_float", "unidecode_es")
      .map(f => s"functions.$f.rows_per_s" -> "1/s") ++
    IngestVersions.ModuleKernels.map(k => s"${k._1}.rows_per_s" -> "1/s")
}

/** Run independent tasks on a small pool; rethrows the first failure. */
object Par {
  def run(threads: Int, tasks: Seq[() => Any]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Any] { def call(): Any = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> [--size full|tiny] --work <dir>`. Prints one JSON result
  * as the last line of standard output.
  */
object Main {
  val Workloads: Map[String, Ctx => Seq[Metric]] = Map(
    "ingest_versions" -> IngestVersions.run,
    "drop_cycle" -> DropCycleWorkload.run,
    "serve_mix" -> ServeMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'; one of ${Workloads.keys.mkString(", ")}"))
    val work = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts.getOrElse("seed", "1").toLong, opts.getOrElse("seconds", "10").toDouble,
      opts.getOrElse("trace", "0") == "1", opts.getOrElse("size", "full") == "tiny", work)
    val got = try body(ctx).map(m => m.name -> m).toMap finally spark.stop()
    val wanted = if (ctx.trace) Registry.perLayer else Registry.endToEnd
    val metrics = wanted.map { case (n, u) =>
      got.get(n) match {
        case Some(m) => require(m.unit == u, s"metric $n: unit ${m.unit}, expected $u"); m
        case None if ctx.trace => Metric(n, 0.0, u) // a layer this workload does not use
        case None => throw new IllegalStateException(s"$workload did not measure $n")
      }
    } ++ got.values.filterNot(m => wanted.exists(_._1 == m.name)).toSeq.sortBy(_.name)
    val json = metrics.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${math.max(1, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": $json}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
