package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession of the engine's entry points, dev tools
  * and test suites: `Tables.withTestdataConfs`, `local[n]` with `n`
  * shuffle partitions, the UTC session time zone, no UI, log level
  * WARN. `n` is `SPARK_GRAFT_CPUS`, else the available processors.
  * Callers add only their own extras through `extra`. */
object Session {
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = cpus,
            extra: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val spark = extra(Tables.withTestdataConfs(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
