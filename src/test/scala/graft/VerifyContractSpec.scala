package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The Verify dump's scoring contract: EVERY declared query produces a
  * scorable artifact, success or failure — the driver's report size must
  * equal `SparkEntry.queries.size` so broken queries surface as red rows
  * instead of silently shrinking the round's headline count (the round-10
  * failure mode).
  */
class VerifyContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("dumpQueries writes a scorable artifact for every query, even throwing ones") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_verify_contract").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok_query" -> ((s, _) => { import s.implicits._; Seq((1, "a")).toDF("id", "v") }),
      "analysis_error" -> ((s, _) => {
        import s.implicits._
        // the exact round-10 failure shape: a binary op over mismatched types
        Seq((1, "x")).toDF("a", "b").selectExpr("a div b")
      }),
      "runtime_error" -> ((_, _) => sys.error("boom at plan build time")))
    Verify.dumpQueries(spark, "/unused", out, queries)

    val dumped = Paths.get(out).toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dumped == queries.keySet, "every declared query must yield an output dir")

    assert(Files.list(Paths.get(out, "ok_query")).anyMatch(_.toString.endsWith(".parquet")))
    assert(!Files.exists(Paths.get(out, "ok_query", "_ERROR")))
    for (bad <- Seq("analysis_error", "runtime_error")) {
      val sentinel = Paths.get(out, bad, "_ERROR")
      assert(Files.exists(sentinel), s"$bad must leave an _ERROR sentinel")
      assert(Files.readString(sentinel).nonEmpty)
    }
  }

  test("dropStreamSinks only touches graft's own memory sinks") {
    import spark.implicits._
    Seq(1).toDF("x").createOrReplaceTempView("user_view_sink")
    Seq(2).toDF("x").createOrReplaceTempView("graft_stream_test_sink")
    Verify.dropStreamSinks(spark)
    val names = spark.catalog.listTables().collect().map(_.name).toSet
    assert(names.contains("user_view_sink"), "unrelated *_sink views must survive")
    assert(!names.contains("graft_stream_test_sink"))
    spark.catalog.dropTempView("user_view_sink")
  }

  test("integration tier is exactly the scratch-dir-building queries") {
    // scratch-dir-building queries are exactly the journeys: runJourney
    // hands each one its dir, and no other body may make one
    assert(SparkEntry.integrationQueries == SparkEntry.journeys.keySet)
    val plain = SparkEntry.plainQueries.keySet
    assert((plain intersect SparkEntry.journeys.keySet).isEmpty,
      s"both plain and journey: ${plain intersect SparkEntry.journeys.keySet}")
    assert(SparkEntry.queries.keySet == plain ++ SparkEntry.journeys.keySet)
    // scratch dirs belong to SparkEntry.runJourney alone: a body that
    // made its own would be a pure-tier row with filesystem noise, or a
    // journey that leaks its dir when it throws
    for (f <- Seq("src/main/scala/graft/CorpusQueries.scala",
        "src/main/scala/graft/SparkEntry.scala"))
      assert(!Files.readString(Paths.get(f)).contains("createTempDirectory"),
        s"$f creates a temp dir in a query body")
  }

  test("a journey that throws after writing leaves no scratch dir behind") {
    var seen: Option[java.nio.file.Path] = None
    val failing: SparkEntry.Journey = (s, _, tmp, stage) => {
      import s.implicits._
      seen = Some(Paths.get(tmp))
      stage("build")(Seq(1, 2).toDF("x").write.parquet(tmp + "/landed"))
      assert(Files.exists(Paths.get(tmp, "landed")))
      sys.error("boom after landing")
    }
    val e = intercept[RuntimeException](
      SparkEntry.runJourney(failing, spark, "/unused", Stage.none))
    assert(e.getMessage == "boom after landing")
    assert(seen.nonEmpty && !Files.exists(seen.get), s"scratch dir leaked: $seen")
  }

  test("bench stage journeys are pinned, known, integration-tier queries") {
    // Bench records stages for exactly SparkEntry.journeys
    val staged = SparkEntry.journeys.keySet
    assert(staged.size >= 8, "at least the 8 index journeys split stages")
    assert(staged.subsetOf(SparkEntry.queries.keySet),
      s"unknown stage journeys: ${staged -- SparkEntry.queries.keySet}")
    assert(staged.subsetOf(SparkEntry.integrationQueries),
      "every stage journey is an integration-tier query")
    // the recorder times a journey's own body and leaves its rows alone
    val sf = "/root/testdata/sf0.001"
    val rec = new Bench.StageRecorder
    val rows = SparkEntry.runJourney(SparkEntry.journeys("q_hist_median_est"), spark, sf, rec)
      .collect().toSeq
    val json = rec.json(rows.size)
    val keys = "\"([a-z_]+)\":".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(keys == Seq("build_sec", "refresh_sec", "serve_sec", "serve_rows"), json)
    def sec(k: String) = s""""$k":([0-9.eE-]+)""".r.findFirstMatchIn(json).get.group(1).toDouble
    assert(sec("build_sec") > 0 && sec("serve_sec") > 0, json)
    assert(rows.nonEmpty && json.contains(s""""serve_rows":${rows.size}"""), json)
    assert(rows == SparkEntry.queries("q_hist_median_est")(spark, sf).collect().toSeq)
  }

  test("declared queries and oracle entries line up") {
    // every oracle row must have a runnable query; queries without oracle
    // SQL are allowed (weaker rows-only check) but must be rare
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${o -- q}")
    assert(q == o, s"queries without oracle SQL: ${q -- o}")
  }
}
