package graft

import org.apache.spark.sql.SparkSession

/** Marks a named step of an integration journey (`build`, `refresh`,
  * `serve`, and `parity`/`floor` on the persisted-index rows). The
  * query map runs journeys under [[Stage.none]]; Bench passes a recorder
  * so its stage walls time the same code the oracle checks. Marks of one
  * name add up, and a mark may run on an overlap thread, so recorders
  * must be thread-safe.
  */
trait Stage {
  def apply[T](name: String)(body: => T): T
}

object Stage {
  val none: Stage = new Stage {
    def apply[T](name: String)(body: => T): T = body
  }
}

object Scratch {

  /** Run `f` on a fresh local temp directory and delete the directory
    * afterwards, also when `f` throws.
    */
  def withDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
  }
}

object Sessions {

  /** The one session factory of the mains. Shuffle partitions follow the
    * master's parallelism (local[N] -> N). `nanosAsLong` keeps a
    * TIMESTAMP(NANOS) events file readable; SparkEntry.decodeEventsTs
    * branches on the loaded dtype, and the flag is harmless for micros.
    */
  def create(master: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
