package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure containment (round-1 lesson — the whole round's correctness
  * zeroes if this process dies with nothing on disk):
  *  - oracle_sql.json is written FIRST, before any query runs;
  *  - queries run on a small thread pool (Spark schedules concurrent
  *    jobs in one session), each with its own timeout, so one hung or
  *    slow query can neither serialize the rest nor eat the driver's
  *    process-level timeout budget;
  *  - every query's parquet lands (atomic move) the moment it finishes.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Arg parsing must NEVER crash: two rounds of driver correctness gates
    // recorded `{}` because a strict `val Array(a, b) = args` MatchError
    // killed the process before a single byte hit disk. Accept 0, 1 or 2
    // positional args with env-var and constant fallbacks.
    val sfDir = args.lift(0).filter(_.nonEmpty)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).filter(_.nonEmpty)
      .orElse(sys.env.get("SPARK_GRAFT_VERIFY_OUT"))
      .getOrElse("verify_out")
    System.err.println(s"[verify] sfDir=$sfDir outDir=$outDir (args=${args.mkString(" ")})")
    // concurrent verify jobs share the cores fairly instead of FIFO
    val spark = Session(extra = _.config("spark.scheduler.mode", "FAIR"))
    new java.io.File(outDir).mkdirs()

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
    System.err.println(s"[verify] oracle_sql.json written (${SparkEntry.oracleSql.size} queries)")

    // Local-iteration escape hatch: SPARK_GRAFT_ONLY=q133,q136 dumps just
    // those queries. The driver never sets it, so the gate always runs all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    val done = new AtomicInteger(0)
    val total = selected.size
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = Executors.newFixedThreadPool(
      math.min(4, Runtime.getRuntime.availableProcessors))
    val futures = selected.toSeq.map { case (name, fn) =>
      name -> pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            // Contract: a file literally at outDir/<name>.parquet. Spark
            // writes a directory, so write to a scratch dir and move the
            // single part file into place (coalesce(1) → exactly one part).
            val scratch = s"$outDir/.tmp_$name"
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(scratch)
            val part = new java.io.File(scratch).listFiles()
              .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
              .getOrElse(sys.error(s"no part file under $scratch"))
            Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
            System.err.println(f"[verify] ${done.incrementAndGet()}%2d/$total $name ok " +
              f"(${(System.nanoTime() - t0) / 1e9}%.1fs)")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            failed.add(name)
            System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
          }
        }
      })
    }
    pool.shutdown()
    // Per-process ceiling: leave whatever finished on disk and exit clean
    // rather than letting an external timeout kill with partial state.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_S", "1500").toLong
    val unfinished: Seq[String] =
      if (!pool.awaitTermination(budgetSec, TimeUnit.SECONDS)) {
        val u = futures.collect { case (n, f) if !f.isDone => n }
        System.err.println(s"[verify] budget exceeded; unfinished: ${u.mkString(",")}")
        pool.shutdownNow()
        u
      } else Nil
    // One compact JSON line on STDOUT — the driver demonstrably parses a
    // 2000-char stdout tail (Bench's line survives), while its file-capture
    // path has recorded `{}` for three rounds. This line is the durable
    // in-band record that every dump landed. Also mirrored to a file the
    // judge can read without re-running.
    import scala.jdk.CollectionConverters._
    // distinct: a query interrupted by shutdownNow can land in BOTH
    // `failed` (its catch runs on interrupt) and `unfinished` (collected
    // before the interrupt) — it is one failure, not two
    val failedNames = (failed.asScala.toSeq ++ unfinished).distinct.sorted
    // Bounded like Bench's stdout line: in a mass-failure run the full
    // name list would blow past the driver's ~2000-char stdout tail and
    // truncate the JSON head — exactly when the record matters most.
    // The complete list is in stderr's per-query FAILED lines.
    val shown = failedNames.take(25)
    val summary = s"""{"metric":"verify","total":$total,""" +
      s""""dumped":${total - failedNames.size},""" +
      s""""failed_total":${failedNames.size},""" +
      s""""failed":[${shown.map(n => "\"" + n + "\"").mkString(",")}],""" +
      s""""oracle_sql":${SparkEntry.oracleSql.size},"sf_dir":${q(sfDir)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    println(summary)
    spark.stop()
  }
}
