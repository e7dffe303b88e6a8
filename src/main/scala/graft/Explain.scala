package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection entry point: prints the formatted physical plan for the
  * named queries (or all). Used to audit pushdown, pruning, broadcast
  * choices and whole-stage-codegen coverage per query.
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.01 q01_pricing_summary ..."
  */
object Explain {

  /** Shared by this main and `cli explain` so the two entry points can't
    * drift. NB: queries with construction-time side effects (the
    * scratch-lake/index tiers) run real jobs to produce their plan.
    */
  def print(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          catch { case e: Throwable => println(s"error: ${e.getMessage}") }
        case None => println(s"unknown query '$n'; names:\n  " +
          SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.create("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    print(spark, sfDir, names)
    spark.stop()
  }
}
