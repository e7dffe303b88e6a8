package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result under `outDir/<name>`. CONTRACT: every
    * entry in `queries` yields a scorable artifact — result parquet on
    * success, an empty dir + `_ERROR` sentinel on failure. Silently
    * writing nothing would shrink the driver's report instead (round 10:
    * two analysis-errored queries vanished and 78/82 scored as 78/80).
    */
  private[graft] def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = Paths.get(s"$outDir/$name")
        if (!Files.exists(d)) Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
      cleanup(spark)
    }
  }

  /** Between-query session hygiene, shared by this dump and Bench's
    * timed passes. Leftover cached frames and checkpoint/persisted RDDs
    * (clearCache misses the latter; every journey leaves a
    * localCheckpoint behind) compound in the old gen and made later
    * queries run 10-30x their isolated cost. Stream memory sinks hold
    * their rows until dropped. Every streaming query also leaves its
    * state-store providers cached with a shared maintenance thread
    * sweeping them; `StateStore.stop()` unloads them, and the next
    * streaming query restarts both from empty.
    */
  private[graft] def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    dropStreamSinks(spark)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** Memory-sink tables registered by stream queries hold their rows
    * until dropped — in a long-lived session they accumulate as
    * un-clearCache-able old-gen garbage. Drop them once the query's
    * result has been consumed.
    */
  private[graft] def dropStreamSinks(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_") && t.name.endsWith("_sink"))
      .foreach(t => spark.catalog.dropTempView(t.name))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.create(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    val only = sys.env.get("SPARK_GRAFT_ONLY") // debug: regex filter on query names
    dumpQueries(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => only.forall(n.matches) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
