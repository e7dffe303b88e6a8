package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.lake.{BloomIndex, MaterializedAgg, ZoneMapIndex}
import graft.ops.{PostingsIndex, SimilarityIndex}

/** serve_mix: one client in a closed loop of read-only requests against a
  * lake and indexes landed in set-up. Request parameters come from the
  * seed with a hot/cold skew (80% of requests draw from a hot 5% of keys,
  * days, terms and names; both shares are assumed, not measured).
  */
object ServeMix {

  /** One request; `kind` selects the entry point, the rest are parameters. */
  final case class Req(kind: String, keys: Seq[String] = Nil, lo: Int = 0, hi: Int = 0,
                       nos: Seq[Long] = Nil, terms: Seq[String] = Nil,
                       names: Seq[(Long, String)] = Nil)

  /** The fixed mix, in round-robin order: kind -> (span name, class). */
  val Kinds: Seq[(String, String, String)] = Seq(
    ("lookup", "lake.BloomIndex.lookupSnapshot", "lookup"),
    ("lookup_at", "lake.BloomIndex.lookupSnapshot.timeTravel", "lookup"),
    ("range", "lake.ZoneMapIndex.rangeLookupSnapshot", "range"),
    ("summary", "lake.MaterializedAgg.serve", "agg"),
    ("topk", "ops.Sketches.serveTopK", "agg"),
    ("quantile", "ops.Sketches.serveQuantile", "agg"),
    ("neardup", "ops.DedupIndex.candidatePairsInvolving", "probe"),
    ("knn", "ops.SimilarityIndex.topKInt8", "probe"),
    ("bm25", "ops.PostingsIndex.bm25", "probe"),
    ("fuzzy", "ops.FuzzyJoinIndex.probe", "probe"))

  def run(ctx: Ctx): Seq[Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val baseN = ctx.size(2400)
    var inBytes = 0L
    val (st, setupS) = ctx.setup { dir =>
      val st = new DocStore(ctx, dir, new Gen.DocLake(ctx.seed, 32))
      inBytes = st.buildServed(baseN, buyers = 400, files = 12, dropN = baseN / 10)
      val s = new Serve(st, st.embAll)
      // warm-up: one request of each kind, untimed, four at a time
      Par.run(4, requests(st, Kinds.size).map(q => () => s.exec(q)))
      s
    }
    val store = st.store
    val cutoff = store.totalCutoff()
    val reqs = requests(store, 2000)
    val seen = mutable.HashSet[Req]()
    var repeated = 0
    val opened = mutable.HashMap[String, (Long, Long)]().withDefaultValue((0L, 0L))
    val ops = ctx.loop(i => reqs(i % reqs.size).kind, round = Kinds.size)(_ => ()) { i =>
      st(reqs(i % reqs.size))
    } { (i, n) =>
      val r = reqs(i % reqs.size)
      if (!seen.add(r)) repeated += 1
      st.opened.foreach { case (k, (o, live)) => opened(k) = (opened(k)._1 + o, opened(k)._2 + live) }
      if (!st.ok(r, cutoff)) ctx.fail(s"${r.kind} request $i returned a wrong answer")
    }

    val lat = ops.map(_.ms)
    val e2e = Seq(
      Metric("setup_s", setupS, "s")) ++ ctx.loopMetrics(ops) ++ Seq(
      Metric("write_amp", Bytes.total(store.listing).toDouble / inBytes, "ratio"),
      Metric("space_amp", Bytes.total(store.listing).toDouble / store.liveBytes, "ratio")) ++
      // a nearest-rank p90 with at least ten requests beyond it; a run of
      // the listed length holds about 20 requests, too few for one
      (if (lat.size >= 100) Seq(Metric("serve_p90_ms", Stats.quantile(lat, 0.9), "ms")) else Nil)
    if (!ctx.trace) return e2e
    def p50(cls: String) = Stats.median(ops.filter(o => Kinds.exists(k => o.name == s"op.${k._1}" && k._3 == cls))
      .map(_.ms))
    def ratio(k: String) = if (opened(k)._2 == 0) 0.0 else opened(k)._1.toDouble / opened(k)._2
    ctx.layerMetrics(Kinds.size) ++ Kinds.map(k => ctx.spanMetric(k._2, "ms")) ++ Seq(
      Metric("lookup_p50_ms", p50("lookup"), "ms"),
      Metric("range_p50_ms", p50("range"), "ms"),
      Metric("agg_p50_ms", p50("agg"), "ms"),
      Metric("probe_p50_ms", p50("probe"), "ms"),
      Metric("lake.BloomIndex.files_opened_ratio", ratio("bloom"), "ratio"),
      Metric("lake.ZoneMapIndex.files_opened_ratio", ratio("zonemap"), "ratio"),
      Metric("bench.repeated_request_ratio", repeated.toDouble / ops.size, "ratio")) ++
      store.byRoot(store.listing).map { case (r, b) => Metric(s"$r.bytes", b.toDouble, "bytes") } ++
      DocStore.kernels(ctx, store.gen.live.values.map(_.text).toSeq) ++
      Kernels.rates(ctx, Kernels.replicate(ctx, spark.read.parquet(st.corpus))
        .select(transform(col("emb"), x => round(x * 127).cast("tinyint")).as("codes"), col("emb").as("q")),
        Seq("dot_byte_float" -> "dot_byte_float(codes, q)"))
  }

  /** `n` requests cycling through the fixed mix, parameters drawn from the
    * seed with the hot/cold skew.
    */
  def requests(st: DocStore, n: Int): IndexedSeq[Req] = {
    val g = st.gen
    val r = new Gen.Rng(st.ctx.seed ^ 0x5e7eL)
    val live = g.live.keys.toIndexedSeq.sorted
    val base = g.versions.head.keys.toIndexedSeq.sorted
    val days = g.live.values.map(_.day).toIndexedSeq.distinct.sorted
    val terms = Gen.Words.slice(120, Gen.Words.length).toIndexedSeq
    val names = g.master.toIndexedSeq
    val dups = st.nearDupGroups.flatten.toIndexedSeq
    def hot[T](xs: IndexedSeq[T]): T = {
      val nHot = math.max(1, xs.size / 20)
      if (r.chance(0.8)) xs(r.int(nHot) * (xs.size / nHot)) else r.pick(xs)
    }
    (0 until n).map { i =>
      Kinds(i % Kinds.size)._1 match {
        case "lookup" => Req("lookup", keys = Seq.fill(4)(Gen.ntpId(hot(live))).distinct.sorted)
        case "lookup_at" => Req("lookup_at", keys = Seq.fill(4)(Gen.ntpId(hot(base))).distinct.sorted)
        case "range" => val d = hot(days); Req("range", lo = d, hi = d + 2)
        case "neardup" =>
          val docs = (Seq.fill(2)(if (dups.nonEmpty) hot(dups) else Gen.ntpId(hot(live))) :+
            Gen.ntpId(hot(live))).distinct.sorted
          Req("neardup", keys = docs)
        case "knn" => Req("knn", nos = Seq.fill(2)(hot(live)).distinct.sorted)
        case "bm25" => Req("bm25", terms = Seq(hot(terms), f"exp${hot(live)}%06d").distinct)
        case "fuzzy" => Req("fuzzy", names = Seq.fill(2) {
          val (id, name) = hot(names)
          // the typo is a function of the buyer, so a hot buyer repeats its request
          id -> Gen.typo(name, new Gen.Rng(st.ctx.seed ^ id))
        }.distinct)
        case k => Req(k)
      }
    }
  }

  /** Executes requests against one store and checks their answers. */
  final class Serve(val store: DocStore, val corpus: String) {
    private val spark = store.spark
    import spark.implicits._
    private val lake = store.lake
    private val art = store.art
    private var result: Array[Row] = Array.empty
    /** Files opened and live files of the last pruned lookup, by index. */
    var opened: Map[String, (Long, Long)] = Map.empty
    private val spanOf = Kinds.map(k => k._1 -> k._2).toMap
    private lazy val liveAt1 = lake.readAt(1L).inputFiles.length.toLong
    private lazy val liveNow = lake.read.inputFiles.length.toLong

    /** Run one request; returns the number of result rows. */
    def apply(q: Req): Long = {
      val (rows, o) = store.ctx.spans(spanOf(q.kind))(exec(q))
      result = rows
      opened = o
      rows.length.toLong
    }

    /** The request's answer, and files opened / live files for a pruned read. */
    def exec(q: Req): (Array[Row], Map[String, (Long, Long)]) = q.kind match {
      case "lookup" | "lookup_at" =>
        val at = if (q.kind == "lookup_at") Some(1L) else None
        val (df, n) = BloomIndex.lookupSnapshot(lake, "_id", q.keys, at)
        (df.select("_id", "status", "amount_c", "text").collect(),
          Map("bloom" -> ((n.toLong, if (at.isDefined) liveAt1 else liveNow))))
      case "range" =>
        val (df, n) = ZoneMapIndex.rangeLookupSnapshot(lake, "pub_day", lit(q.lo), lit(q.hi))
        (df.select("_id").collect(), Map("zonemap" -> ((n.toLong, liveNow))))
      case "summary" => (MaterializedAgg.serve(spark, s"$art/summary", store.summarySpec).collect(), Map.empty)
      case "topk" => (store.serveTopK(), Map.empty)
      case "quantile" => (store.serveMedian(), Map.empty)
      case "neardup" => (store.candidates(q.keys), Map.empty)
      case "knn" =>
        val queries = q.nos.map(no => EmbRow(-no - 1, perturb(store.gen.vectors(no), no))).toDF()
        (SimilarityIndex.topKInt8(spark.read.parquet(corpus), queries, "doc_no", "emb",
          store.simPath, k = 5, nProbe = 4).collect(), Map.empty)
      case "bm25" => (PostingsIndex.bm25(spark, s"$art/postings", q.terms).select("doc").collect(), Map.empty)
      case "fuzzy" => (store.fuzzyProbe(q.names), Map.empty)
    }

    private def perturb(v: Array[Float], no: Long): Array[Float] = {
      val r = new Gen.Rng(no)
      val w = v.map(x => x + (r.double() - 0.5).toFloat * 0.02f)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum)
      w.map(x => (x / n).toFloat)
    }

    private lazy val byWord: Map[String, Set[String]] = {
      val m = mutable.HashMap[String, mutable.Set[String]]()
      store.gen.live.values.foreach(d => Gen.tokens(d.text).foreach(t => m.getOrElseUpdate(t, mutable.Set()) += d.id))
      m.view.mapValues(_.toSet).toMap
    }

    private def docs(state: Map[Long, Gen.Doc], ids: Seq[String]) =
      ids.flatMap(id => state.get(id.drop(3).toLong)).map(d => (d.id, d.status, d.amountC, d.text)).toSet

    /** Does the last result equal the generator's answer for `q`? */
    def ok(q: Req, cutoff: Map[String, Long]): Boolean = {
      val g = store.gen
      q.kind match {
        case "lookup" | "lookup_at" =>
          val state = if (q.kind == "lookup_at") g.versions.head else g.live.toMap
          result.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet ==
            docs(state, q.keys)
        case "range" =>
          result.map(_.getString(0)).toSet ==
            g.live.values.filter(d => d.day >= q.lo && d.day <= q.hi).map(_.id).toSet
        case "summary" =>
          result.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
            g.live.values.groupBy(_.status).map { case (s, ds) => (s, ds.size.toLong, ds.map(_.amountC).sum) }.toSet
        case "topk" => store.topKOk(result, cutoff)
        case "quantile" => store.quantileOk(result)
        case "neardup" => store.nearDupsOk(q.keys, result)
        case "knn" =>
          q.nos.forall(no => result.exists(r => r.getLong(0) == -no - 1 && r.getLong(1) == no))
        case "bm25" =>
          result.map(_.getString(0)).toSet == q.terms.flatMap(t => byWord.getOrElse(t, Set.empty)).toSet
        case "fuzzy" => store.fuzzyOk(q.names, result)
      }
    }
  }
}
