package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Epoch-millisecond view of `System.nanoTime`, so harness times line up
  * with the epoch timestamps Spark puts on its listener events. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** One timed execution of one statement: the query function (eager part:
  * fixtures, DML statements, plan building) and then its final action. */
final case class Sample(id: Long, stmt: String, pass: Int, traced: Boolean, group: String,
                        startNs: Long, eagerEndNs: Long, endNs: Long, rows: Long,
                        error: Option[String], gcMs: Long, gcCount: Long)

/** The engine side of the lakehouse benchmark: one process, one
  * closed-loop client running `graft.SparkEntry.queries` statements one at
  * a time with no think time.
  *
  *  1. set-up: session start, then one pass that builds every fixture the
  *     statements need and writes each statement's result for the oracle
  *     check, then `--warm-passes` untimed passes;
  *  2. timed region: whole passes, each in a seed-permuted order, until
  *     `--seconds` have elapsed; Spark's cache is cleared before every
  *     statement so every sample starts from the same state;
  *  3. live heap after a full GC, then everything is written as JSON to
  *     `--out`/raw.json for the runner to reduce.
  *
  * With `--trace 1`, half the passes are traced; those carry the per-layer
  * metrics of [[Tracer]], and traced against untraced pass times give the
  * tracing overhead. */
object LakehouseBench {
  /** Heap in use after full collections. Spark's ContextCleaner frees
    * shuffle and broadcast state only after a collection has cleared the
    * references to it, so collect until the figure stops falling. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect() = { System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 1.0 && rounds < 8) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  /** CPU seconds the JIT compiler threads have used so far. The JVM hides
    * them from ThreadMXBean, so they are read from /proc (clock ticks of
    * 1/100 s); the runner keeps them alive for the whole run. */
  private def jitCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        if (!Files.readString(Paths.get(t.getPath, "comm")).contains("CompilerThre")) 0L
        else {
          val stat = Files.readString(Paths.get(t.getPath, "stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val prefixes = opt("statements").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val sfDir = opt("sf-dir")
    val outDir = opt("out")
    val cpus = opt("cpus").toInt
    val warmPasses = opt("warm-passes").toInt
    val capS = opt("cap-seconds").toLong
    val launchedEpochMs = opt("launched-epoch-ms").toDouble

    val all = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val stmts = prefixes.map { p =>
      all.keys.filter(_.startsWith(p + "_")).toSeq match {
        case Seq(name) if oracle.contains(name) => name
        case Seq(name) => sys.error(s"$name has no oracle SQL")
        case other => sys.error(s"statement prefix $p matches ${other.size} queries")
      }
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(Paths.get(outDir, "results"))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      mapper.writeValueAsString(stmts.map(n => n -> oracle(n)).toMap))

    val spark = graft.Tables.withTestdataConfs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val clock = new Clock
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tracer = new Tracer(spark, clock)
    val rng = new scala.util.Random(seed)
    var nextId = 0L

    def gcTotals = (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)

    /** Runs `body` on a fresh thread under its own job group, cancelling
      * the group when the cap is hit. Returns the error, if any. */
    def runCapped(group: String)(body: => Unit): Option[String] = {
      val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
        val t = new Thread(r, group); t.setDaemon(true); t
      }
      val fut = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          sc.setJobGroup(group, group, interruptOnCancel = true)
          try body finally sc.clearJobGroup()
        }
      })
      try { fut.get(capS, TimeUnit.SECONDS); None }
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          Some(s"exceeded the ${capS}s cap")
        case e: ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Some(s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}")
      } finally pool.shutdownNow()
    }

    def runSample(stmt: String, pass: Int, traced: Boolean): Sample = {
      val id = nextId; nextId += 1
      val group = s"${Tracer.GroupPrefix}$id"
      val fn = all(stmt)
      spark.catalog.clearCache()
      val (gc0, gcn0) = gcTotals
      if (traced) tracer.enter(id)
      @volatile var eagerEnd = 0L
      @volatile var rows = -1L
      val t0 = System.nanoTime()
      val err = runCapped(group) {
        val df = fn(spark, sfDir)
        eagerEnd = System.nanoTime()
        rows = df.count()
      }
      val t1 = System.nanoTime()
      if (traced) tracer.exit()
      val (gc1, gcn1) = gcTotals
      Sample(id, stmt, pass, traced, group, t0, if (eagerEnd == 0L) t1 else eagerEnd, t1,
        rows, err, gc1 - gc0, gcn1 - gcn0)
    }

    def dumpResult(stmt: String): Option[String] =
      runCapped(s"${Tracer.GroupPrefix}dump-$stmt") {
        all(stmt)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(Paths.get(outDir, "results", stmt).toString)
      }

    // Set-up. The first pass builds fixtures from an empty fixture cache
    // and writes the results the runner checks after the timed region.
    val sessionS = (System.currentTimeMillis() - launchedEpochMs) / 1e3
    val dumpTimes = stmts.map { s =>
      val t0 = System.nanoTime()
      val err = dumpResult(s)
      (s, err, (System.nanoTime() - t0) / 1e9)
    }
    (1 to warmPasses).foreach { p =>
      rng.shuffle(stmts).foreach(s => runSample(s, -p, traced = false))
    }
    System.gc()
    val setupS = (System.currentTimeMillis() - launchedEpochMs) / 1e3

    // Timed region: whole passes until the time is up.
    val samples = Vector.newBuilder[Sample]
    val passes = Vector.newBuilder[Map[String, Any]]
    val timedStart = System.nanoTime()
    var pass = 0
    // Traced runs use untraced/traced/traced/untraced blocks, so a pass
    // time still falling with warm-up does not bias the overhead figure.
    val minPasses = if (traceOn) 4 else 1
    while (pass < minPasses || System.nanoTime() - timedStart < seconds * 1e9) {
      val traced = traceOn && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) tracer.install()
      val cpu0 = os.getProcessCpuTime
      val jit0 = jitCpuS()
      val p0 = System.nanoTime()
      val ss = rng.shuffle(stmts).map(s => runSample(s, pass, traced))
      val wall = (System.nanoTime() - p0) / 1e9
      val jit = jitCpuS() - jit0
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      if (traced) tracer.uninstall()
      samples ++= ss
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "jit_cpu_s" -> jit)
      pass += 1
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9

    // A failed dump gets one more try now, outside every timed metric.
    val dumpErrors = dumpTimes.collect { case (s, Some(first), _) =>
      s -> dumpResult(s).map(retry => s"$first; retry: $retry")
    }.collect { case (s, Some(e)) => s -> e }.toMap

    val heapLiveMb = liveHeapMb()

    val allSamples = samples.result()
    val folded = allSamples.filter(_.traced).map(s => s.id -> tracer.fold(s)).toMap
    val raw = Map(
      "statements" -> stmts,
      "setup_s" -> setupS,
      "setup" -> Map("session_s" -> sessionS,
        "first_pass_s" -> dumpTimes.map { case (s, _, t) => s -> t }.toMap),
      "timed_s" -> timedS,
      "heap_live_mb" -> heapLiveMb,
      "dump_errors" -> dumpErrors,
      "passes" -> passes.result(),
      "samples" -> allSamples.map { s =>
        Map("id" -> s.id, "stmt" -> s.stmt, "pass" -> s.pass, "traced" -> s.traced,
          "wall_s" -> (s.endNs - s.startNs) / 1e9, "rows" -> s.rows, "error" -> s.error.orNull,
          "layers" -> folded.get(s.id).map(_._1).orNull)
      },
      "spans" -> allSamples.flatMap(s => folded.get(s.id).toSeq.flatMap(_._2)))
    Files.writeString(Paths.get(outDir, "raw.json"), mapper.writeValueAsString(raw))
    spark.stop()
    sys.exit(0)
  }
}
