package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{NtpIds, TimeFns}
import graft.ingest.Normalize
import graft.lake.LakeTable
import graft.pipeline.{HarvestJobs, IngestJob}

/** ingest_versions: the reference's flagship loop. A bulk load lands in a
  * partitioned `LakeTable` in set-up; each timed drop is `IngestJob.run`
  * (new records, new versions, overlapping re-deliveries), then
  * `IngestJob.summarize` and a scan-only `HarvestJobs.harvest` over the
  * active records.
  */
object IngestVersions {
  val Columns = Seq("id", "updated", "status", "amount", "buyer", "title", "doc_url")
  val Codes: Map[String, String] = Columns.map(c => c -> c).toMap
  // the drop mix is assumed, not measured on real drops (README)
  val NewShare = 0.4
  val VersionShare = 0.4

  final class State(val spark: SparkSession, val dir: String, val gen: Gen.Versioned) {
    import spark.implicits._
    val lake = new LakeTable(spark, s"$dir/art/lake", "_id", IngestJob.LakePartitionCols, nBuckets = 8)
    private var n = 0

    /** Write the next upstream drop as parquet; returns (path, bytes). */
    def write(rows: Seq[Gen.Upstream]): (String, Long) = {
      n += 1
      val p = s"$dir/in/drop$n"
      rows.toDF().withColumnRenamed("docUrl", "doc_url").coalesce(1).write.parquet(p)
      (p, Bytes.total(Bytes.list(p)))
    }

    def actives: DataFrame = lake.read.filter(col("obsolete_version").isNull)
  }

  /** One drop: ingest, then summarize and harvest the active records. */
  def drop(ctx: Ctx, s: State, path: String): (Set[(String, Long)], Long) = {
    val spark = ctx.spark
    ctx.spans("pipeline.IngestJob.run")(
      IngestJob.run(spark, s.lake, spark.read.parquet(path), Codes, "id", "updated", group = 0))
    val summary = ctx.spans("pipeline.IngestJob.summarize")(
      IngestJob.summarize(spark, s.actives, Seq("status")).collect())
    val urls = ctx.spans("pipeline.HarvestJobs.harvest")(
      HarvestJobs.harvest(s.actives, "_id", Seq("doc_url"), scanOnly = true).count())
    (summary.map(r => r.getString(0) -> r.getLong(1)).toSet, urls)
  }

  def run(ctx: Ctx): Seq[Metric] = {
    val spark = ctx.spark
    val bulkN = ctx.size(2000)
    val dropN = ctx.size(200)
    val (st, setupS) = ctx.setup { dir =>
      val s = new State(spark, dir, new Gen.Versioned(ctx.seed))
      IngestJob.run(spark, s.lake, spark.read.parquet(s.write(s.gen.bulk(bulkN))._1), Codes,
        "id", "updated", group = 0)
      drop(ctx, s, s.write(s.gen.drop(dropN, NewShare, VersionShare))._1) // warm-up, untimed
      s
    }
    val window = 1
    var next = ("", 0L)
    var inBytes = 0L
    var before: Bytes.Listing = Map.empty
    val written = collection.mutable.ArrayBuffer[Long]()
    var out: (Set[(String, Long)], Long) = (Set.empty, 0L)
    val art = s"${st.dir}/art"
    val ops = ctx.loop(_ => "drop", round = 1) { _ =>
      next = st.write(st.gen.drop(dropN, NewShare, VersionShare))
      before = Bytes.list(art)
    } { _ =>
      out = drop(ctx, st, next._1)
      dropN.toLong
    } { (i, _) =>
      inBytes += next._2
      written += Bytes.written(before, Bytes.list(art))
      val act = st.gen.active.values
      val want = act.groupBy(_.status).map { case (k, v) => k -> v.size.toLong }.toSet +
        ("(all)" -> act.size.toLong)
      if (out._1 != want) ctx.fail(s"summary after drop $i differs from the generated state")
      if (out._2 != act.count(_.docUrl.startsWith("http")))
        ctx.fail(s"harvest after drop $i found ${out._2} urls")
    }
    checkState(ctx, st)

    val live = s"${st.dir}/live"
    st.actives.drop("grp", "bucket").write.parquet(live)
    val e2e = Seq(
      Metric("setup_s", setupS, "s")) ++ ctx.loopMetrics(ops) ++ Seq(
      Metric("write_amp", written.sum.toDouble / inBytes, "ratio"),
      Metric("space_amp", Bytes.total(Bytes.list(art)).toDouble / Bytes.total(Bytes.list(live)), "ratio"))
    if (!ctx.trace) return e2e
    import spark.implicits._
    ctx.layerMetrics(window) ++
      Seq("pipeline.IngestJob.run", "pipeline.IngestJob.summarize", "pipeline.HarvestJobs.harvest")
        .map(ctx.spanMetric(_, "s")) ++
      Seq(Metric("lake.LakeTable.bytes_written", written.take(window).sum.toDouble / window, "bytes")) ++
      Kernels.rates(ctx, Kernels.replicate(ctx, st.gen.active.values.map(_.title).toSeq.toDF("t")),
        Seq("unidecode_es" -> "unidecode_es(t)")) ++
      Kernels.frames(Kernels.replicate(ctx, spark.read.parquet(next._1)), ModuleKernels)
  }

  /** The column builders `IngestJob.run` takes from `graft.ingest` and
    * `graft.core`, as it applies them to an upstream drop. They run inside
    * stages of pipeline and lake actions, so they are timed on their own.
    */
  val ModuleKernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ingest.Normalize.normalizeDrop" -> (d => Normalize.normalizeDrop(d, Codes)),
    "core.TimeFns.updates" -> { d =>
      val arr = TimeFns.toUpdatesArray(col("updated"))
      d.select(TimeFns.mergeUpdates(arr, arr).as("merged"), TimeFns.updatesOverlap(arr, arr).as("overlap"))
    },
    "core.NtpIds.codec" -> { d =>
      val id = NtpIds.setNtpId(pmod(hash(col("id")), lit(NtpIds.MinOrderMinors)))
      d.select(NtpIds.parseNtpId(id).as("order"), NtpIds.group(id).as("grp"))
    })

  /** One active version per natural key, and the counts the generator
    * expects: actives, tombstones, merged re-delivery patches, fields.
    */
  def checkState(ctx: Ctx, s: State): Unit = {
    val g = s.gen
    val act = s.actives.select("id", "updated", "status", "amount", "title").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    ctx.check("one active version per natural key")(act.map(_._1).distinct.length == act.length)
    ctx.check("active and tombstone counts match the generated drops") {
      act.length == g.active.size && s.lake.read.count() == g.active.size + g.tombstones
    }
    ctx.check("merged re-deliveries recorded one patch each")(s.lake.readPatches.count() == g.patches)
    ctx.check("active fields equal the latest delivered version") {
      act.toSet == g.active.values.map(u => (u.id, u.updated, u.status, u.amount, u.title)).toSet
    }
  }
}

/** Throughput of the engine's native expressions on a workload's inputs. */
object Kernels {
  /** `df` repeated up to about 200k rows (10k for the smoke input), cached. */
  def replicate(ctx: Ctx, df: DataFrame): DataFrame = {
    val n = math.max(1L, df.count())
    val times = math.max(1L, (if (ctx.tiny) 10000L else 200000L) / n)
    val out = df.crossJoin(ctx.spark.range(times).select(col("id").as("__rep"))).drop("__rep").cache()
    out.count()
    out
  }

  /** `functions.<name>.rows_per_s` of each native expression over `df`. */
  def rates(ctx: Ctx, df: DataFrame, kernels: Seq[(String, String)]): Seq[Metric] = {
    graft.functions.GraftExtensions.registerAll(ctx.spark)
    frames(df, kernels.map { case (name, expr) => s"functions.$name" -> ((d: DataFrame) => d.selectExpr(expr)) })
  }

  /** `<name>.rows_per_s` of each projection over `df`: the median of three
    * passes that compute every column the projection yields.
    */
  def frames(df: DataFrame, kernels: Seq[(String, DataFrame => DataFrame)]): Seq[Metric] = {
    val in = df.cache()
    val n = in.count()
    kernels.map { case (name, f) =>
      val out = f(in)
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        out.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      Metric(s"$name.rows_per_s", n / Stats.median(walls), "1/s")
    }
  }
}
