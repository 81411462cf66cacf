package graft

import org.apache.spark.sql.SparkSession

/** The one local session the engine's entry points ([[Verify]],
  * [[Explain]]) and the test suites run on, each with its own core count:
  * UTC session time, the engine's [[GraftExtensions]], AQE, and
  * `spark.sql.legacy.parquet.nanosAsLong` (`events.parquet` carries
  * TIMESTAMP(NANOS), readable only as raw longs and rebuilt into micros
  * timestamps by [[T.events]]). The warehouse is a scratch dir, so no
  * managed table outlives the JVM.
  */
object Session {
  def local(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.warehouse.dir",
      graft.streaming.Streaming.scratchDir("graft_wh_"))
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()
}
