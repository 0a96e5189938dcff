package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Durable catalog: Hive-metastore-backed table registration that
  * survives session (and process) restarts — the engine-side equivalent
  * of the reference's persistent Glue catalog
  * (spark/jobs/gold_aggregation.py:13-69; its DDL fallback at
  * spark/jobs/mysql_gold_aggregation.py:160-176). The in-memory session
  * catalog behind `Medallion.registerExternal` forgets every
  * registration when the session ends; this one stores them in an
  * embedded Derby metastore (all jars ship with Spark — zero added
  * dependencies), so the second session a user ever starts still sees
  * the tables the first one registered.
  *
  * At cluster scale the same two knobs point at a shared metastore
  * service (thrift URI) instead of a local Derby directory — the calling
  * code is unchanged; durability is a deployment choice, not an API one.
  */
object DurableCatalog {

  /** Build (or reuse) a Hive-catalog session whose metastore lives at
    * `metastoreDir` and managed tables under `warehouseDir`. Must be the
    * FIRST session in the JVM — `spark.sql.catalogImplementation` is
    * fixed at context start. */
  def hiveSession(metastoreDir: String, warehouseDir: String): SparkSession = {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    graft.Session(extra = _
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir;create=true")
      .enableHiveSupport())
  }

  /** Register a parquet location as an external table in the (durable)
    * catalog — same DDL as `Medallion.registerExternal`, but when run on
    * a `hiveSession` the registration outlives the process. */
  def registerExternal(spark: SparkSession, db: String, table: String,
                       location: String): Unit =
    Medallion.registerExternal(spark, db, table, location)
}

/** Cross-process durability probe (driven by DurableCatalogSpec): phase
  * `register` writes data + registers the table and exits; phase `read`,
  * in a FRESH JVM, resolves the table purely from the Derby metastore.
  * Printing `DURABLE_OK <count>` is the read phase's success contract. */
object DurableCatalogProbe {
  def main(args: Array[String]): Unit = {
    val Array(phase, metastoreDir, warehouseDir, dataPath) = args.take(4)
    val spark = DurableCatalog.hiveSession(metastoreDir, warehouseDir)
    phase match {
      case "register" =>
        import spark.implicits._
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "x")
          .write.mode("overwrite").parquet(dataPath)
        DurableCatalog.registerExternal(spark, "graft_durable", "t_probe", dataPath)
        println(s"REGISTERED ${spark.table("graft_durable.t_probe").count()}")
      case "read" =>
        // no DDL here: the table name must resolve from the metastore alone
        val n = spark.sql(
          "SELECT count(*) FROM graft_durable.t_probe").head().getLong(0)
        println(s"DURABLE_OK $n")
      case other => sys.error(s"unknown phase $other")
    }
    spark.stop()
  }
}
