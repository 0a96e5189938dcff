package graft.tools


/** sf0.1 → sf1 scaling probe for a chosen SparkEntry query subset —
  * the companion to BASELINE.md's 24-query sf1 table, built for the
  * FORMAT/DML family: commit machinery (staging, censuses, OCC,
  * manifest/log replay) has fixed costs the plain-agg sweep never
  * exercises, so its scaling curve needs its own measurement.
  *
  * Method matches the original table: warm each query at sf0.001
  * (JIT/codegen), run once unmeasured at the target dir (builds the
  * cached pristine fixture — the bulk load is not the operator), then
  * min-of-3. DML-statement queries re-execute their statements every
  * rep from a fresh hard-link copy, so the statements ARE what's
  * timed.
  *
  *   runMain graft.tools.ScaleBench q141_delta_read,q143_iceberg_read \
  *     /root/testdata/sf0.1 /tmp/graft_sf1
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleBench <q1,q2,...> <dirA> <dirB> [reps=3]")
    val qs = args(0).split(",").toSeq
    val dirs = Seq(args(1), args(2))
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = graft.Session()

    qs.foreach { q =>
      graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
    }
    val rows = qs.map { q =>
      val fn = graft.SparkEntry.queries(q)
      val times = dirs.map { d =>
        fn(spark, d).count() // unmeasured: builds the cached fixture
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, d).count()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      println(f"[scale] $q: ${times(0)}%.3f s -> ${times(1)}%.3f s " +
        f"(${times(1) / times(0)}%.2fx)")
      (q, times(0), times(1))
    }
    val json = rows.map { case (q, a, b) =>
      f""""$q":{"a":$a%.3f,"b":$b%.3f,"ratio":${b / a}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_bench","dirs":["${dirs(0)}","${dirs(1)}"],"queries":$json}""")
    spark.stop()
  }
}
