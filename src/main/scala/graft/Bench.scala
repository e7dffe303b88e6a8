package graft

import org.apache.spark.sql.functions._

/** Benchmark main: times every SparkEntry query at the scale factor in
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * A warmup pass (table scans + one instance of each kernel family on
  * tiny slices) runs before timing so no measured query absorbs JVM/codegen
  * warmup or file-footer reads. Shuffle partitions match the local core
  * count rather than the 200 default.
  *
  * The integration journeys run under a [[StageRecorder]] inside the two
  * timed passes, so their build/refresh/serve walls come from the
  * query's own run (the min pass's stages are reported). There is no
  * second copy of any journey to keep in sync.
  */
object Bench {

  /** Records the walls of a journey's own stage marks. Marks of one
    * name add up; the persisted ANN rows mark stages on overlap
    * threads, hence the lock.
    */
  private[graft] final class StageRecorder extends Stage {
    private val walls = scala.collection.mutable.LinkedHashMap[String, Double]()

    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      synchronized { walls(name) = walls.getOrElse(name, 0.0) + dt }
      r
    }

    /** {"build_sec":…,"refresh_sec":…,"serve_sec":…,"serve_rows":…}, a
      * standard stage the body has no step for reading 0, then every
      * other marked stage (`parity`, `floor`) as "<name>_sec".
      */
    def json(serveRows: Long): String = synchronized {
      val std = Seq("build", "refresh", "serve")
      (std.map(k => s""""${k}_sec":${walls.getOrElse(k, 0.0)}""") ++
        Seq(s""""serve_rows":$serveRows""") ++
        walls.collect { case (k, v) if !std.contains(k) => s""""${k}_sec":$v""" })
        .mkString("{", ",", "}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Sessions.create(s"local[$cpus]")

    // warmup: touch every table's footer + exercise codegen/shuffle paths
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q_customer_segments_active")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Kernel-family warmup on tiny slices: the FIRST evaluation of each
    // plan shape pays whole-stage-codegen compilation + C2 JIT, which is
    // per-shape, not per-row (measured: the minhash candidate pipeline's
    // first run costs ~9 s at sf0.1, its second 1.8 s — the delta is all
    // compile). The bench exists to measure plans at steady state, so
    // compile every family up front on 64-row slices where the compile
    // cost is the only cost. Each block is independent and best-effort.
    def warm(body: => Any): Unit = try { body; () } catch { case _: Throwable => () }
    warm {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .persist(); docs.count()
      // minhash shingle/band/self-join + components + text kernels
      val pairs = graft.ops.Dedup.minhashCandidates(docs, "doc_id", "text", 4, 2)
      graft.ops.Dedup.connectedComponents(pairs).count()
      graft.ops.Dedup.simhashCandidates(docs, "doc_id", "text", 4, 3).count()
      docs.select(graft.ops.TextAnalysis.langId(col("text")),
        graft.ops.TextAnalysis.qualityScore(col("text")),
        graft.ops.TextAnalysis.tokenCount(col("text"))).count()
      // round-11 kernel families: bm25 pivot-sum, chunk slicing,
      // contamination report join, bin-explode range join
      graft.ops.Relevance.bm25(docs, "doc_id", "text", Seq("spark", "data")).count()
      docs.select(explode(graft.ops.TextAnalysis.chunkTokens(col("text"), 64, 48))).count()
      graft.ops.Dedup.contaminationReport(docs, docs.limit(8), "doc_id", "text").count()
      graft.ops.TimeJoins.pointInIntervalJoin(
        docs.select(col("doc_id"), col("n_chars").as("p")),
        "p", docs.select(col("doc_id").as("iid"), col("n_chars").as("lo"),
          (col("n_chars") + 64).as("hi")).limit(8), "lo", "hi", 64L).count()
      docs.unpersist(blocking = false)
    }
    warm {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        .persist(); emb.count()
      val probe = emb.limit(4)
      // decimal-dot deciders, DotFloat coarse gates, hyperplane buckets,
      // IVF cell assignment, rank windows
      graft.ops.Similarity.bruteTopKExact(emb, probe, "vec_id", "embedding", 2).count()
      graft.ops.Similarity.dotNearDupExact(emb, "vec_id", "embedding",
        BigDecimal("0.35"), 4, 64).count()
      graft.ops.Similarity.multiProbeTopKExact(emb, probe, "vec_id", "embedding", 2, 4, 64).count()
      graft.ops.Similarity.ivfTopK(emb, probe, "vec_id", "embedding", 2, 4, 2).count()
      graft.ops.Similarity.ivfTopKInt8(emb, probe, "vec_id", "embedding", 2, 4, 2).count()
      // distributed Lloyd trainer: compile the assignment cross-join +
      // decimal-mean shapes (round-13: the trainer is per-iteration
      // Spark jobs now, not a driver loop)
      graft.ops.Similarity.ivfCentroidsKMeans(emb, "vec_id", "embedding", nList = 2, iters = 1)
      emb.unpersist(blocking = false)
    }
    warm(Scratch.withDir("graft_bench_lakewarm") { tmp =>
      // scratch-lake family warmup: the staged-swap landing (overwrite →
      // rename-commit), the partition-scoped upsert and the repair join
      // chain — so the first measured scratch-lake query (ntp_repair_report
      // and the snapshot/bloom tier) pays plan+commit-path compile, not
      // the measured pass (round-11 watch item: 1.9x pass-to-pass swing)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .select(format_string("ntp%08d", col("doc_id")).as("_id"),
          concat(lit("k"), (col("doc_id") % 8).cast("string")).as("nk"),
          lit(false).as("obsolete_version"), lit(null).cast("string").as("updated_to"))
        .withColumn("grp", lit(0)).withColumn("bucket", pmod(hash(col("nk")), lit(2)))
      val lake = new graft.lake.LakeTable(spark, tmp + "/lake", "_id",
        graft.pipeline.IngestJob.LakePartitionCols, nBuckets = 2)
      lake.overwrite(docs)
      graft.pipeline.RepairJob.run(spark, lake, "nk").count()
    })
    warm(Scratch.withDir("graft_bench_aggwarm") { tmp =>
      // round-12 kernel families: profiler Expand/stack, materialized-agg
      // partial/serve, sketch segments (HLL agg + merge), knn-graph tail
      val ords = spark.read.parquet(s"$sfDir/orders.parquet").limit(64)
        .persist(); ords.count()
      graft.ops.Profiler.profile(ords, Seq("o_orderkey", "o_orderstatus")).count()
      val spec = graft.lake.MaterializedAgg.Spec(Seq("o_orderstatus"),
        sums = Seq("s" -> col("o_orderkey")), mins = Seq("mn" -> col("o_orderkey")),
        maxs = Seq("mx" -> col("o_orderkey")))
      graft.lake.MaterializedAgg.landDrop(ords, spec, s"$tmp/m", "w")
      graft.lake.MaterializedAgg.serve(spark, s"$tmp/m", spec).count()
      graft.ops.Sketches.landHllDrop(ords, Seq("o_orderstatus"), "o_custkey", s"$tmp/h", "w")
      graft.ops.Sketches.serveHllEstimate(spark, s"$tmp/h", Seq("o_orderstatus")).count()
      graft.ops.Sketches.landDistinctDrop(ords, Seq("o_orderstatus"), "o_custkey", s"$tmp/d", "w")
      graft.ops.Sketches.serveDistinct(spark, s"$tmp/d", Seq("o_orderstatus"), "o_custkey").count()
      ords.unpersist(blocking = false)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
      graft.ops.Similarity.knnGraphBucketed(emb, "vec_id", "embedding", 2, 4, 64).count()
    })
    warm(Scratch.withDir("graft_bench_r12warm") { tmp =>
      // round-12 session kernel families: deflate ratio, bigram-LM join
      // chain, top-k segments, png encode + perceptual hash — each on
      // 64-row slices so the measured queries see steady-state codegen
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .persist(); docs.count()
      docs.select(graft.ops.TextAnalysis.compressRatioPct(col("text"))).count()
      graft.ops.Relevance.bigramLmScore(docs, "doc_id", "text").count()
      graft.ops.Sketches.landTopKDrop(docs, Nil, "lang", 4, s"$tmp/tk", "w")
      graft.ops.Sketches.serveTopK(spark, s"$tmp/tk", Nil, "lang").count()
      val dims = docs.select(col("doc_id"), lit(8).cast("int").as("w"),
        lit(8).cast("int").as("h"), (col("doc_id") % 4).as("pat")).limit(8)
      graft.ops.Multimodal.imageHashes(
        graft.ops.Multimodal.grayPngTable(dims, "doc_id", "w", "h", "pat")).count()
      docs.unpersist(blocking = false)
    })
    warm(Scratch.withDir("graft_bench_warm") { tmp =>
      // streaming engine warmup: micro-batch planner, state-store setup,
      // and the stateful codegen paths. Same entry code as the measured
      // q_stream_* queries, against a 64-row copy of the events file laid
      // out the way the entries expect (a single file named
      // events.parquet under the dir).
      val stage = s"$tmp/_stage"
      spark.read.parquet(s"$sfDir/events.parquet").limit(64)
        .coalesce(1).write.parquet(stage)
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(stage).getFileSystem(hconf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$tmp/events.parquet"))
      val dstage = s"$tmp/_dstage"
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .coalesce(1).write.parquet(dstage)
      val dpart = fs.listStatus(new org.apache.hadoop.fs.Path(dstage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(dpart, new org.apache.hadoop.fs.Path(s"$tmp/documents.parquet"))
      val cstage = s"$tmp/_cstage"
      spark.read.parquet(s"$sfDir/customer.parquet").limit(64)
        .coalesce(1).write.parquet(cstage)
      val cpart = fs.listStatus(new org.apache.hadoop.fs.Path(cstage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(cpart, new org.apache.hadoop.fs.Path(s"$tmp/customer.parquet"))
      // ALL six streaming shapes: the stateful symmetric-hash join,
      // static-enrich join, and top-k sink paths each carry their own
      // codegen + state-store formats, and an unwarmed shape showed up
      // as a 1.7-1.8x run-1/run-2 swing on exactly those rows
      Seq("q_stream_windowed", "q_stream_sessionize", "q_stream_dedup_docs",
        "q_stream_stream_join", "q_stream_enrich_join", "q_stream_topk").foreach { qn =>
        warm(SparkEntry.queries(qn)(spark, tmp).count())
      }
    })
    Verify.cleanup(spark) // warmup's stream sinks must not survive into timing
    System.gc()

    val only = sys.env.get("SPARK_GRAFT_ONLY") // debug: regex filter on query names
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.matches) }
    val journeys = SparkEntry.journeys
    // (name, wall, stages json); a journey runs under a recorder so its
    // stage walls come from this very run
    def timeSuite(): Seq[(String, Double, String)] = selected.map { case (name, fn) =>
      val rec = new StageRecorder
      val t0 = System.nanoTime()
      // a failed query must be LOUD on stderr: the swallowed-throw timing
      // (~2 ms of plan build) reads as a spectacular speedup in the JSON
      // otherwise (this bit round 13: a whole family "ran" in 2 ms)
      val stages = try {
        val out = journeys.get(name).fold(fn(spark, sfDir))(SparkEntry.runJourney(_, spark, sfDir, rec))
        rec.json(out.count())
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        s"""{"err":"${e.getClass.getName}"}"""
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // each query is measured against a clean session and heap — the
      // bench must measure plans, not accumulated session garbage
      Verify.cleanup(spark)
      System.gc()
      (name, dt, stages)
    }
    // two full passes, min-of-two per query: back-to-back runs of
    // identical code measure ±20% host-contention variance (bench
    // methodology notes), and the min is the better plan-cost estimator —
    // noise only ever ADDS time. Both raw passes are carried in the JSON
    // so regression analysis can see the spread.
    val runs = Seq(timeSuite(), timeSuite())
    val best = runs.transpose.map(_.minBy(_._2))
    val results = best.map(r => r._1 -> r._2)
    def fmt(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = fmt(results)
    val total = results.map(_._2).sum
    // two tiers (round-12 verdict #7): pure plan executions vs
    // scratch-lake machinery journeys, so plan regressions in the
    // sub-second pure tier are visible outside the ±1 s of fs noise the
    // integration journeys carry. Per-tier thresholds live with the
    // consumer; the JSON just separates the subtotals.
    val (integ, pure) = results.partition(r => SparkEntry.integrationQueries(r._1))
    val runsJson = runs.map(r => fmt(r.map(x => x._1 -> x._2))).mkString("[", ",", "]")
    // per-STAGE walls of each journey, from the pass that set its min:
    // the journey totals conflate scratch-index build, churn refresh and
    // the probe, and SERVE latency is the number an operator cares about
    val stagesJson = best.collect { case (n, _, j) if SparkEntry.integrationQueries(n) =>
      "\"" + n + "\":" + j }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","pure_sec":${pure.map(_._2).sum},"integration_sec":${integ.map(_._2).sum},"pure_n":${pure.size},"integration_n":${integ.size},"stages":$stagesJson,"queries":$qs,"runs":$runsJson,"sf":"$sfDir"}"""
    println(line)
    // also land the line in a file: stdout is shared with Spark/Ivy log
    // noise and the driver's scrape has come back "parsed": null before
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
