package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for the engine's tools and specs: a
  * local master with `cores` threads and as many shuffle partitions,
  * UTC session time, nanosecond parquet timestamps read as BIGINT
  * (events.ts), no UI, WARN logging. A caller that needs another
  * runtime SQL setting sets it on the returned session.
  *
  * `getOrCreate` hands back the JVM's running session if there is one
  * (its master stays whatever it was built with) and re-applies the
  * SQL settings above to it. Specs pass `4`, so every suite in the
  * shared test JVM sees the same session. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
