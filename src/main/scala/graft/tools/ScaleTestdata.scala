package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale the driver-generated testdata up by an integer factor — the
  * input to the sf1 bench spot-check (BASELINE.md): every claim about
  * 100 TB behavior rests on plan shape measured at sf0.1, and one
  * higher-SF measurement confirms the s/q scaling curve and catches
  * accidental metadata-path superlinearity.
  *
  * Method: each FACT table unions `factor` replicas with every key
  * column offset by `replica * 10_000_000` — joins stay consistent
  * because both sides of every key domain shift identically, key
  * uniqueness is preserved, and per-key group sizes (the skew shape)
  * are untouched. Dimension tables (region, nation) stay fixed, as in
  * TPC-H. Usage:
  *   runMain graft.tools.ScaleTestdata <srcDir> <dstDir> [factor=10]
  */
object ScaleTestdata {
  private val KeyOffset = 10000000L

  private val scaledKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleTestdata <srcDir> <dstDir> [factor=10]")
    val src = args(0); val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session()
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(dst))

    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val withR = df.crossJoin(
        spark.range(factor).toDF("__r").hint("broadcast"))
      keys.foldLeft(withR) { (d, k) =>
        d.withColumn(k, col(k) + col("__r") * lit(KeyOffset))
      }.drop("__r")
    }

    graft.Tables.names.foreach { t =>
      val in = spark.read.parquet(s"$src/$t.parquet")
      val out = scaledKeys.get(t) match {
        case Some(keys) => replicate(in, keys)
        case None => in // fixed dimensions (region, nation)
      }
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] $t: ${in.count()} -> ${spark.read.parquet(s"$dst/$t.parquet").count()}")
    }
    spark.stop()
  }
}
