package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{BloomIndex, MaterializedAgg, SnapshotLake, ZoneMapIndex}
import graft.ops.{DedupIndex, FuzzyJoinIndex, PostingsIndex, SimilarityIndex, Sketches}
import graft.pipeline.DropCycle

/** A live document as the snapshot lake stores it. */
final case class LakeRow(_id: String, doc_no: Long, url: String, pub_day: Int, status: String,
                         amount_c: Long, buyer: String, text: String)

final case class EmbRow(doc_no: Long, emb: Array[Float])

final case class BuyerRow(buyer_id: Long, name: String)

/** The document lake with every tier `DropCycle` maintains, plus the
  * embedding and buyer-name indexes, as one set of paths. Shared by
  * drop_cycle (which times the drops) and serve_mix (which times reads).
  */
final class DocStore(val ctx: Ctx, val dir: String, val gen: Gen.DocLake) {
  val spark: SparkSession = ctx.spark
  import spark.implicits._

  val art = s"$dir/art"
  val in = s"$dir/in"
  val lake = new SnapshotLake(spark, s"$art/lake", "_id")
  val summarySpec: MaterializedAgg.Spec =
    MaterializedAgg.Spec(Seq("status"), sums = Seq("amount" -> col("amount_c")))
  val topK = 16
  val quantileK = 32
  val conf: DropCycle.Config = DropCycle.Config(
    textCol = Some("text"),
    bandIdxPath = Some(s"$art/band"),
    postingsPath = Some(s"$art/postings"),
    zonemap = Some("pub_day"),
    summary = Some((summarySpec, s"$art/summary")),
    hll = Some((Seq("status"), "buyer", s"$art/sketches/hll")),
    topk = Some((Seq("status"), "buyer", topK, s"$art/sketches/topk")),
    quantile = Some((Seq("status"), "amount_c", quantileK, s"$art/sketches/quantile")),
    lmPath = Some(s"$art/lm"))
  val simPath = s"$art/simidx"
  val fuzzyPath = s"$art/fuzzyidx"

  /** Artifact root directory of each entry of [[DocStore.Roots]]. The
    * bloom and zone-map sidecars live inside the lake directory.
    */
  private val rootDirs: Seq[(String, String)] = DocStore.Roots.zip(Seq(
    s"$art/lake", s"$art/lake/_bloomidx", s"$art/lake/_zonemap_pub_day", s"$art/band",
    s"$art/postings", s"$art/summary", s"$art/sketches", s"$art/lm", simPath, fuzzyPath))

  /** Bytes of `files` by root; a file counts under its most specific root. */
  def byRoot(files: Bytes.Listing): Seq[(String, Long)] = {
    def owner(path: String) =
      rootDirs.filter { case (_, r) => path.startsWith(r + "/") }.sortBy(-_._2.length).headOption.map(_._1)
    rootDirs.map { case (name, _) => name -> files.collect { case (k, v) if owner(k).contains(name) => v._1 }.sum }
  }

  /** Bytes written between two listings, by root. */
  def rootBytes(before: Bytes.Listing, after: Bytes.Listing): Seq[(String, Long)] =
    byRoot(after.filter { case (k, v) => !before.get(k).contains(v) })

  def listing: Bytes.Listing = Bytes.list(art)

  private def rows(docs: Iterable[Gen.Doc]): DataFrame =
    docs.toSeq.map(d => LakeRow(d.id, d.no, Gen.docUrl(d.no), d.day, d.status, d.amountC, d.buyer, d.text))
      .toDF()

  /** Write a generated input as parquet; returns (path, bytes). */
  def writeInput(name: String, df: DataFrame): (String, Long) = {
    val p = s"$in/$name"
    df.coalesce(1).write.parquet(p)
    (p, Bytes.total(Bytes.list(p)))
  }

  /** Generated inputs of one drop: records, embeddings, buyer master rows. */
  final case class DropInput(n: Int, docs: String, emb: String, master: String, bytes: Long,
                             truth: Gen.DropTruth)
  private var drops = 0

  def nextDrop(size: Int, mix: Gen.Mix): DropInput = {
    val (docs, truth, buyers) = gen.drop(size, mix)
    drops += 1
    val (dp, db) = writeInput(s"drop$drops", rows(docs))
    val (ep, eb) = writeInput(s"emb$drops", docs.map(d => EmbRow(d.no, gen.vectors(d.no))).toDF())
    val referenced = (docs.map(_.buyerId).distinct.map(id => id -> gen.master(id)) ++ buyers).distinct
    val (mp, mb) = writeInput(s"master$drops", referenced.map { case (i, n) => BuyerRow(i, n) }.toDF())
    DropInput(docs.size, dp, ep, mp, db + eb + mb, truth)
  }

  /** One drop through every maintained tier: the lake and its text and
    * summary tiers, then the vector index, then the buyer-name index.
    */
  def landDrop(d: DropInput): (Map[String, (Long, Long)], Map[String, (Long, Long)], (Long, Long)) = {
    val s = ctx.spans
    val r = s("pipeline.DropCycle.run")(DropCycle.run(lake, spark.read.parquet(d.docs), conf))
    val e = s("pipeline.DropCycle.runEmbeddings")(
      DropCycle.runEmbeddings(spark.read.parquet(d.emb), "doc_no", "emb", simPath))
    val f = s("ops.FuzzyJoinIndex.upsert")(
      FuzzyJoinIndex.upsert(spark.read.parquet(d.master), "buyer_id", "name", fuzzyPath))
    (r, e, f)
  }

  /** Base load laid out in `files` key-ordered files (publication order),
    * so point and range pruning have files to skip; then the pinned
    * vector codebook and the buyer-name index.
    */
  def build(baseN: Int, buyers: Int, files: Int): Long = {
    val base = gen.base(baseN, buyers)
    val (bp, bb) = writeInput("base", rows(base))
    val (ep, eb) = writeInput("emb0", base.map(d => EmbRow(d.no, gen.vectors(d.no))).toDF())
    val (mp, mb) = writeInput("master0", gen.master.toSeq.map { case (i, n) => BuyerRow(i, n) }.toDF())
    DropCycle.run(lake, spark.read.parquet(bp).repartitionByRange(files, col("_id"))
      .sortWithinPartitions("_id"), conf)
    SimilarityIndex.build(spark.read.parquet(ep), "doc_no", "emb", simPath, nList = 16)
    FuzzyJoinIndex.build(spark.read.parquet(mp), "buyer_id", "name", fuzzyPath, maxDist = 2)
    bb + eb + mb
  }

  /** A served state built tier by tier: the base load (version 1, laid
    * out like [[build]]), one amendment drop upserted (version 2, the
    * time-travel target is version 1), then every served index built over
    * the current snapshot. Returns the generated input bytes.
    */
  def buildServed(baseN: Int, buyers: Int, files: Int, dropN: Int): Long = {
    val (bp, bb) = writeInput("base", rows(gen.base(baseN, buyers)))
    lake.overwrite(spark.read.parquet(bp).repartitionByRange(files, col("_id")).sortWithinPartitions("_id"))
    val (docs, _, _) = gen.drop(dropN, DropCycleWorkload.Mix)
    val (dp, db) = writeInput("drop1", rows(docs))
    lake.upsert(spark.read.parquet(dp))
    gen.countLiveOnly()
    val (ep, eb) = writeInput("emb", gen.live.keys.toSeq.map(no => EmbRow(no, gen.vectors(no))).toDF())
    val (mp, mb) = writeInput("master", gen.master.toSeq.map { case (i, n) => BuyerRow(i, n) }.toDF())
    val cur = lake.read
    // the builds are independent (one artifact root each): run them four
    // at a time, as a maintenance job would
    Par.run(4, Seq(
      () => BloomIndex.refreshSnapshot(lake, "_id"),
      () => DedupIndex.build(cur, "_id", "text", s"$art/band"),
      () => SimilarityIndex.build(spark.read.parquet(ep), "doc_no", "emb", simPath, nList = 16),
      () => Sketches.landQuantileDrop(cur, Seq("status"), col("amount_c"), quantileK,
        s"$art/sketches/quantile", "v2"),
      () => FuzzyJoinIndex.build(spark.read.parquet(mp), "buyer_id", "name", fuzzyPath, maxDist = 2),
      () => Sketches.landTopKDrop(cur, Seq("status"), "buyer", topK, s"$art/sketches/topk", "v2"),
      () => ZoneMapIndex.refreshSnapshot(lake, "pub_day"),
      () => PostingsIndex.build(cur, "_id", "text", s"$art/postings"),
      () => MaterializedAgg.landDrop(cur, summarySpec, s"$art/summary", "v2")))
    bb + db + eb + mb
  }
  /** Full-precision vectors of every live document, from [[buildServed]]. */
  def embAll: String = s"$in/emb"

  /** Live data files of the newest snapshot, and their bytes. */
  def liveFiles: Seq[String] = lake.read.inputFiles.toSeq
  def liveBytes: Long = liveFiles.map(f => new java.io.File(new java.net.URI(f)).length()).sum

  // ------------------------------------------------------------- checks

  /** Every output check over the current state of the lake and its tiers. */
  def checkState(): Unit = {
    val cols = Seq("_id", "doc_no", "url", "pub_day", "status", "amount_c", "buyer", "text").map(col)
    val got = lake.read.select(cols: _*)
    val want = rows(gen.live.values).select(cols: _*)
    ctx.check("lake rows equal the generated live state") {
      got.count() == gen.live.size && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
    }
    ctx.check("served summary equals a recompute over lake.read") {
      val served = MaterializedAgg.serve(spark, s"$art/summary", summarySpec).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val recomputed = lake.read.groupBy("status").agg(count(lit(1)), sum("amount_c")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      served == recomputed
    }
    ctx.check("top-k bounds hold over the counted rows")(topKOk(serveTopK(), totalCutoff()))
    ctx.check("median quantile within the rank bound")(quantileOk(serveMedian()))
    ctx.check("planted near-duplicates are candidates") {
      val dups = nearDupGroups.flatten.take(40).toSeq
      nearDupsOk(dups, candidates(dups))
    }
    ctx.check("buyer-name typos resolve to their canonical buyer") {
      val r = new Gen.Rng(ctx.seed ^ 0xf022L)
      val probes = (1 to 20).map(i => (i.toLong, Gen.typo(gen.master(1L + r.long(gen.master.size.toLong)), r)))
      fuzzyOk(probes, fuzzyProbe(probes))
    }
  }

  def serveTopK(): Array[Row] = Sketches.serveTopK(spark, s"$art/sketches/topk", Seq("status"), "buyer").collect()
  def totalCutoff(): Map[String, Long] =
    Sketches.totalCutoff(spark, s"$art/sketches/topk", Seq("status")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  def serveMedian(): Array[Row] =
    Sketches.serveQuantile(spark, s"$art/sketches/quantile", Seq("status"), 1, 2).collect()
  def candidates(docs: Seq[String]): Array[Row] =
    DedupIndex.candidatePairsInvolving(spark, s"$art/band", docs.toDF("doc"), "doc").collect()
  def fuzzyProbe(probes: Seq[(Long, String)]): Array[Row] =
    FuzzyJoinIndex.probe(probes.toDF("pid", "name"), "pid", "name", fuzzyPath).collect()

  /** (status, buyer) -> true count over every row the tier counted. */
  lazy val eventCounts: Map[(String, String), Long] =
    gen.events.groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.size.toLong }

  def topKOk(served: Array[Row], cutoff: Map[String, Long]): Boolean = {
    val bounds = served.forall { r =>
      val t = eventCounts.getOrElse((r.getString(0), r.getString(1)), 0L)
      r.getLong(2) <= t && t <= r.getLong(3)
    }
    val keys = served.map(r => (r.getString(0), r.getString(1))).toSet
    val guaranteed = eventCounts.forall { case (k, n) => n <= cutoff.getOrElse(k._1, 0L) || keys(k) }
    bounds && guaranteed
  }

  def quantileOk(served: Array[Row]): Boolean = served.nonEmpty && served.forall { r =>
    val st = r.getString(0)
    val q = r.getLong(1)
    val vs = gen.events.filter(_._1 == st).map(_._3)
    val t = (vs.size + 1) / 2
    val lo = vs.count(_ < q)
    val hi = vs.count(_ <= q)
    val err = if (lo < t && t <= hi) 0 else math.min(math.abs(t - hi), math.abs(lo + 1 - t))
    val bound = gen.segmentSizes.map(_.getOrElse(st, 0)).filter(_ > 0)
      .map(n => (n + 2 * quantileK - 1) / (2 * quantileK) + 1).sum
    err <= bound
  }

  /** Live documents whose texts tokenize identically, in groups of 2+. */
  def nearDupGroups: Iterable[Seq[String]] =
    gen.live.values.groupBy(d => Gen.tokens(d.text)).values.map(_.map(_.id).toSeq.sorted)
      .filter(_.size > 1)

  def nearDupsOk(docs: Seq[String], got: Array[Row]): Boolean = {
    val pairs = got.map(r => (r.getString(0), r.getString(1))).toSet
    val asked = docs.toSet
    nearDupGroups.forall { g =>
      val want = for (a <- g; b <- g if a < b && (asked(a) || asked(b))) yield (a, b)
      want.forall(pairs)
    }
  }

  /** Exactly the master names within edit distance 2, with their distance. */
  def fuzzyOk(probes: Seq[(Long, String)], got: Array[Row]): Boolean = {
    val want = (for ((pid, s) <- probes; (rid, name) <- gen.master;
                     d = Gen.levenshtein(s, name) if d <= 2) yield (pid, rid, d.toLong)).toSet
    got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want
  }
}

object DocStore {
  /** The `<module>.<Object>` owning each artifact root. */
  val Roots: Seq[String] = Seq("lake.SnapshotLake", "lake.BloomIndex", "lake.ZoneMapIndex",
    "ops.DedupIndex", "ops.PostingsIndex", "lake.MaterializedAgg", "ops.Sketches", "ops.Relevance",
    "ops.SimilarityIndex", "ops.FuzzyJoinIndex")

  def kernels(ctx: Ctx, texts: Seq[String]): Seq[Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val base = Kernels.replicate(ctx, texts.toDF("text"))
      .select(graft.ops.Dedup.shingles(col("text")).as("sh"),
        split(lower(col("text")), "\\s+").as("toks"))
    Kernels.rates(ctx, base, Seq("minhash_sig" -> "minhash_sig(sh, 8)", "rolling_hash" -> "rolling_hash(toks)"))
  }
}

/** drop_cycle: monthly drops through `DropCycle` with every tier on. */
object DropCycleWorkload {
  // assumed, not measured on real drops (README)
  val Mix = Gen.Mix(inserts = 0.3, updates = 0.5, unchanged = 0.2)
  val Tiers = Seq("bloom", "zonemap", "band", "postings")

  def run(ctx: Ctx): Seq[Metric] = {
    val baseN = ctx.size(3000)
    val dropN = ctx.size(300)
    val (dl, setupS) = ctx.setup { dir =>
      val dl = new DocStore(ctx, dir, new Gen.DocLake(ctx.seed, 32))
      dl.build(baseN, buyers = 400, files = 15)
      dl.landDrop(dl.nextDrop(dropN, Mix)) // warm-up drop, untimed
      dl
    }
    val window = 1
    var next: dl.DropInput = null
    var before: Bytes.Listing = Map.empty
    var liveBefore: Set[String] = Set.empty
    var report: Map[String, (Long, Long)] = Map.empty
    var inBytes = 0L
    val written = mutable.ArrayBuffer[Seq[(String, Long)]]()
    val rewritten = mutable.ArrayBuffer[(Int, Int)]()
    val refreshed = mutable.HashMap[String, (Long, Long)]().withDefaultValue((0L, 0L))
    def addRefresh(name: String, c: (Long, Long)): Unit =
      refreshed(name) = (refreshed(name)._1 + c._1, refreshed(name)._2 + c._2)
    val ops = ctx.loop(_ => "drop", round = 1) { _ =>
      next = dl.nextDrop(dropN, Mix)
      before = dl.listing
      liveBefore = dl.liveFiles.toSet
    } { i =>
      val (r, e, f) = dl.landDrop(next)
      report = r
      if (i < window) {
        Tiers.foreach(t => r.get(t).foreach(addRefresh(t, _)))
        addRefresh("simidx", e("simidx"))
        addRefresh("fuzzyidx", f)
      }
      next.n.toLong
    } { (i, _) =>
      // the text tiers carry exactly the unchanged re-deliveries
      val t = next.truth
      for (tier <- Seq("band", "postings") if report(tier) != ((t.unchanged.toLong, (t.inserts + t.updates).toLong)))
        ctx.fail(s"drop $i: $tier carried/refreshed ${report(tier)}, expected ${t.unchanged}/${t.inserts + t.updates}")
      inBytes += next.bytes
      val w = dl.rootBytes(before, dl.listing)
      written += w
      val liveAfter = dl.liveFiles.toSet
      if (i < window) rewritten += (((liveBefore -- liveAfter).size, liveBefore.size))
    }
    dl.checkState()

    val art = Bytes.total(dl.listing)
    val e2e = Seq(
      Metric("setup_s", setupS, "s")) ++ ctx.loopMetrics(ops) ++ Seq(
      Metric("write_amp", written.map(_.map(_._2).sum).sum.toDouble / inBytes, "ratio"),
      Metric("space_amp", art.toDouble / dl.liveBytes, "ratio"))
    if (!ctx.trace) return e2e
    val first = written.take(window)
    def ratio(c: (Long, Long)) = if (c._1 + c._2 == 0) 0.0 else c._2.toDouble / (c._1 + c._2)
    ctx.layerMetrics(window) ++
      Seq("pipeline.DropCycle.run", "pipeline.DropCycle.runEmbeddings", "ops.FuzzyJoinIndex.upsert")
        .map(ctx.spanMetric(_, "s")) ++
      DocStore.Roots.map { name =>
        Metric(s"$name.bytes_written", first.map(_.toMap.apply(name)).sum.toDouble / first.size, "bytes")
      } ++
      Tiers.map(t => Metric(s"pipeline.DropCycle.refreshed_ratio.$t", ratio(refreshed(t)), "ratio")) ++
      Seq(
        Metric("pipeline.DropCycle.refreshed_ratio.simidx", ratio(refreshed("simidx")), "ratio"),
        Metric("ops.FuzzyJoinIndex.refreshed_ratio", ratio(refreshed("fuzzyidx")), "ratio"),
        Metric("lake.SnapshotLake.files_rewritten_ratio",
          rewritten.map(_._1).sum.toDouble / rewritten.map(_._2).sum, "ratio")) ++
      DocStore.kernels(ctx, dl.gen.live.values.map(_.text).toSeq)
  }
}
