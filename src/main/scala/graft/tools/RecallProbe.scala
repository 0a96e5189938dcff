package graft.tools

import org.apache.spark.sql.functions._

/** Throwaway measurement harness: prints recall@3 and scored-pair counts
  * for ANN configs on the real embeddings table (used to pick honest
  * gate parameters; not part of the engine surface). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    import graft.ops.Similarity
    val corpus = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), graft.functions.Vec.toDouble(col("embedding")).as("v"))
    val queries = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        graft.functions.Vec.toDouble(col("embedding")).as("qv"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 3).cache()
    exact.count()
    def rec(name: String, ann: org.apache.spark.sql.DataFrame): Unit = {
      val r = Similarity.recallAtK(ann, exact, 3).collect().head
      println(f"$name%-28s recall=${r.getAs[Double]("recall")}%.3f")
    }
    for (np <- Seq(2, 4, 6)) rec(s"lsh planes=$np",
      Similarity.lshTopK(corpus, queries, 3, nPlanes = np))
    for ((nt, np) <- Seq((4, 4), (8, 5), (8, 6), (12, 6)))
      rec(s"lshMulti L=$nt m=$np",
        Similarity.lshTopKMulti(corpus, queries, 3, nTables = nt, nPlanes = np))
    for (p <- Seq(4, 8, 12)) rec(s"ivf probe=$p/16",
      Similarity.ivfTopK(corpus, queries, 3, nLists = 16, nProbe = p))
    spark.stop()
  }
}
