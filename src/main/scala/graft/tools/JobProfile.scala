package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-query job-level profiler (dev tool, not part of the driver
  * contract): runs named SparkEntry queries under a SparkListener that
  * records every Spark job's wall time, then splits the query's total
  * wall clock into "executor job time" (sum of job spans) and "driver
  * gap" (wall minus job spans — metadata I/O, planning, commit
  * machinery). The split is what decides whether a slow DML query
  * needs fewer/cheaper Spark actions or cheaper driver-side commit
  * work (guide §1: measure first, §7.3 driver-side work).
  *
  * Usage: runMain graft.tools.JobProfile q220_iceberg_subquery_dml ...
  * Env: SF_DIR (default sf0.1), REPS (default 2), TOPJOBS (default
  *      12) — slowest jobs printed with descriptions; cores per
  *      `graft.Session`.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("REPS", "2").toInt
    val topJobs = sys.env.getOrElse("TOPJOBS", "12").toInt
    val spark = graft.Session()

    case class JobRec(id: Int, desc: String, start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(si =>
            si.name + " | " + si.details.linesIterator
              .filter(l => l.contains("graft") && !l.contains("JobProfile"))
              .take(2).mkString(" <- ")))
          .getOrElse("?")
        jobs.put(js.jobId, JobRec(js.jobId, desc, js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names = if (args.nonEmpty) args.toSeq else Seq("q220_iceberg_subquery_dml")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.001").count() // JIT/codegen warmup
      (1 to reps).foreach { r =>
        jobs.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wallMs = (System.nanoTime() - t0) / 1e6
        Thread.sleep(300) // let listener events drain
        import scala.jdk.CollectionConverters._
        val recs = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
        // merged busy time across (possibly overlapping) job spans
        var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        recs.foreach { j =>
          if (j.start > curE) { busy += (curE - curS).max(0); curS = j.start; curE = j.end }
          else curE = math.max(curE, j.end)
        }
        busy += (curE - curS).max(0)
        val rdds = spark.sparkContext.getRDDStorageInfo
        val cachedMb = rdds.map(_.memSize).sum / 1e6
        val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
            .getCollectionTime).sum
        println(f"== $name rep$r: wall ${wallMs / 1000}%.3f s, " +
          f"jobs ${recs.size}, job-span ${busy / 1000.0}%.3f s, " +
          f"driver-gap ${(wallMs - busy) / 1000}%.3f s ($n rows) " +
          f"[cachedRdds ${rdds.length}, cachedMB $cachedMb%.0f, gcCumMs $gcMs]")
        recs.sortBy(j => -(j.end - j.start)).take(topJobs).foreach { j =>
          println(f"   job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.3f s  ${j.desc.take(110)}")
        }
      }
    }
    spark.stop()
  }
}
