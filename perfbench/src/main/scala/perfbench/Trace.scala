package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLongArray
import scala.jdk.CollectionConverters._
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.TableIO

/** Per-layer trace of the statements the benchmark runs, built only from
  * hooks outside the engine:
  *  - a SparkListener for jobs, stages and task metrics (scheduler and
  *    executor layers), attributed to a statement by its job group;
  *  - a QueryExecutionListener for Catalyst phase times (`qe.tracker`),
  *    attributed by the time the execution started;
  *  - a counting, timing decorator on `graft.sources.TableIO.current`
  *    (table-format metadata I/O), attributed to the running statement.
  * Statements run one at a time, so "the running statement" is well
  * defined. Records stay in memory until the run ends. */
final class Tracer(spark: SparkSession, clock: Clock) {
  import Tracer._

  @volatile private var currentSample: Long = -1L
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val sqlRecs = new ConcurrentLinkedQueue[SqlRec]()
  private val ioRecs = new ConcurrentLinkedQueue[IoRec]()
  private val original = TableIO.current

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      job(e.stageInfo.stageId).foreach(_.add(Stages, 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
      j.add(Tasks, 1)
      if (e.reason != Success) j.add(TaskFailures, 1)
      Option(e.taskMetrics).foreach { m =>
        j.add(CpuNs, m.executorCpuTime)
        j.add(RunMs, m.executorRunTime)
        j.add(GcMs, m.jvmGCTime)
        j.add(InputBytes, m.inputMetrics.bytesRead)
        j.add(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        j.add(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        j.add(OutputBytes, m.outputMetrics.bytesWritten)
        j.add(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def job(stageId: Int): Option[JobRec] =
    Option(stageToJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, failed = true)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                       failed: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
      sqlRecs.add(SqlRec(funcName, start, durationNs, ms("analysis"),
        ms("optimization"), ms("planning"), failed))
    }
  }

  private val countingIO = new CountingTableIO(original, this)

  private[perfbench] def io[T](op: String)(call: => T): T = sized(op)((_: T) => 0L)(call)

  private[perfbench] def sized[T](op: String)(bytes: T => Long)(call: => T): T = {
    val t0 = System.nanoTime()
    val out = call
    val t1 = System.nanoTime()
    ioRecs.add(IoRec(currentSample, op, t0, t1, bytes(out), Thread.currentThread.getName))
    out
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    TableIO.current = countingIO
  }

  /** Waits until every queued listener event is delivered, then unhooks. */
  def uninstall(): Unit = {
    TableIO.current = original
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def enter(sampleId: Long): Unit = currentSample = sampleId
  def exit(): Unit = currentSample = -1L

  /** Layer metrics for one traced sample, plus its child spans. */
  def fold(s: Sample): (Map[String, Double], Seq[Map[String, Any]]) = {
    val (start, eagerEnd, end) =
      (clock.epochMs(s.startNs), clock.epochMs(s.eagerEndNs), clock.epochMs(s.endNs))
    val sampleJobs = jobs.values.asScala.toSeq.filter { j =>
      if (j.group.startsWith(GroupPrefix)) j.group == s.group
      else j.startMs >= start && j.startMs < end
    }.sortBy(_.jobId)
    val sqls = sqlRecs.asScala.toSeq.filter(r => r.startMs >= start && r.startMs < end)
    val ios = ioRecs.asScala.toSeq.filter(_.sample == s.id)
    val jobIvs = sampleJobs.map(j => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble))
    val ioIvs = ios.map(r => (clock.epochMs(r.startNs), clock.epochMs(r.endNs)))
    val eagerS = (s.eagerEndNs - s.startNs) / 1e9
    val wallS = (s.endNs - s.startNs) / 1e9
    val jobSpanS = covered(jobIvs, start, end) / 1e3
    def jsum(k: Int) = sampleJobs.map(_.get(k)).sum.toDouble
    def ioCount(ops: String*) = ios.count(r => ops.contains(r.op)).toDouble
    def ioBytes(ops: String*) = ios.filter(r => ops.contains(r.op)).map(_.bytes).sum.toDouble
    val metrics = Map(
      "entry.eager_s" -> eagerS,
      "entry.action_s" -> (s.endNs - s.eagerEndNs) / 1e9,
      "entry.eager_self_s" -> (eagerS - covered(jobIvs ++ ioIvs, start, eagerEnd) / 1e3),
      "sql.executions" -> sqls.size.toDouble,
      "sql.analysis_s" -> sqls.map(_.analysisMs).sum / 1e3,
      "sql.optimization_s" -> sqls.map(_.optimizationMs).sum / 1e3,
      "sql.planning_s" -> sqls.map(_.planningMs).sum / 1e3,
      "scheduler.jobs" -> sampleJobs.size.toDouble,
      "scheduler.stages" -> jsum(Stages),
      "scheduler.tasks" -> jsum(Tasks),
      "scheduler.job_span_s" -> jobSpanS,
      "scheduler.driver_gap_s" -> (wallS - jobSpanS),
      "executor.cpu_s" -> jsum(CpuNs) / 1e9,
      "executor.run_s" -> jsum(RunMs) / 1e3,
      "executor.gc_s" -> jsum(GcMs) / 1e3,
      "executor.input_bytes" -> jsum(InputBytes),
      "executor.shuffle_read_bytes" -> jsum(ShuffleRead),
      "executor.shuffle_write_bytes" -> jsum(ShuffleWrite),
      "executor.output_bytes" -> jsum(OutputBytes),
      "executor.spill_bytes" -> jsum(Spill),
      "executor.task_failures" -> jsum(TaskFailures),
      "tableio.calls" -> ios.size.toDouble,
      "tableio.lists" -> ioCount("list"),
      "tableio.reads" -> ioCount(ReadOps: _*),
      "tableio.writes" -> ioCount(WriteOps: _*),
      "tableio.claims" -> ioCount("putIfAbsent"),
      "tableio.claims_lost" -> ios.count(r => r.op == "putIfAbsent" && r.bytes == 0).toDouble,
      "tableio.bytes_read" -> ioBytes(ReadOps: _*),
      "tableio.bytes_written" -> ioBytes(WriteOps: _*),
      "tableio.busy_s" -> ios.map(r => r.endNs - r.startNs).sum / 1e9,
      "jvm.gc_s" -> s.gcMs / 1e3,
      "jvm.gc_count" -> s.gcCount.toDouble)

    val sid = s"s${s.id}"
    def parentAt(t: Double) = if (t < eagerEnd) s"$sid.eager" else s"$sid.action"
    def span(id: String, parent: String, kind: String, name: String,
             a: Double, b: Double, extra: (String, Any)*) =
      Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> a, "end_ms" -> b) ++ extra
    val spans =
      Seq(span(sid, null, "statement", s.stmt, start, end, "pass" -> s.pass),
        span(s"$sid.eager", sid, "eager", s.stmt, start, eagerEnd),
        span(s"$sid.action", sid, "action", s.stmt, eagerEnd, end)) ++
      sampleJobs.map(j => span(s"$sid.job${j.jobId}", parentAt(j.startMs.toDouble), "job",
        s"job ${j.jobId}", j.startMs.toDouble, j.endMs.toDouble, "group" -> j.group,
        "tasks" -> j.get(Tasks), "stages" -> j.get(Stages))) ++
      sqls.zipWithIndex.map { case (r, i) =>
        span(s"$sid.sql$i", parentAt(r.startMs.toDouble), "sql", r.funcName,
          r.startMs.toDouble, r.startMs + r.durationNs / 1e6,
          "analysis_ms" -> r.analysisMs, "optimization_ms" -> r.optimizationMs,
          "planning_ms" -> r.planningMs, "failed" -> r.failed) } ++
      ios.zipWithIndex.map { case (r, i) =>
        val a = clock.epochMs(r.startNs)
        span(s"$sid.io$i", parentAt(a), "tableio", r.op, a, clock.epochMs(r.endNs),
          "bytes" -> r.bytes, "thread" -> r.thread) }
    (metrics, spans)
  }
}

object Tracer {
  /** Job groups the harness sets start with this; jobs in any other group
    * fall back to attribution by start time. */
  val GroupPrefix = "perfbench-"

  private val ReadOps = Seq("readBytes", "readString", "readLines")
  private val WriteOps = Seq("writeBytes", "writeString")

  private val Stages = 0; private val Tasks = 1; private val TaskFailures = 2
  private val CpuNs = 3; private val RunMs = 4; private val GcMs = 5
  private val InputBytes = 6; private val ShuffleRead = 7; private val ShuffleWrite = 8
  private val OutputBytes = 9; private val Spill = 10

  final case class JobRec(jobId: Int, group: String, startMs: Long) {
    @volatile var endMs: Long = startMs
    private val counters = new AtomicLongArray(11)
    def add(k: Int, v: Long): Unit = { counters.addAndGet(k, v); () }
    def get(k: Int): Long = counters.get(k)
  }
  final case class SqlRec(funcName: String, startMs: Long, durationNs: Long,
                          analysisMs: Long, optimizationMs: Long, planningMs: Long,
                          failed: Boolean)
  /** `bytes` is the payload size for reads and writes, and 1/0 for a
    * won/lost claim. */
  final case class IoRec(sample: Long, op: String, startNs: Long, endNs: Long,
                         bytes: Long, thread: String)

  /** Milliseconds of [lo, hi) covered by the union of `ivs`. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((total, reach), (a, b)) =>
        if (b <= reach) (total, reach) else (total + b - math.max(a, reach), b)
      }._1
}

/** Counts and times every call through the TableIO seam, then delegates. */
final class CountingTableIO(inner: TableIO, t: Tracer) extends TableIO {
  override def exists(path: String): Boolean = t.io("exists")(inner.exists(path))
  override def isDirectory(path: String): Boolean =
    t.io("isDirectory")(inner.isDirectory(path))
  override def list(dir: String): Seq[String] = t.io("list")(inner.list(dir))
  override def length(path: String): Long = t.io("length")(inner.length(path))
  override def lastModified(path: String): Long =
    t.io("lastModified")(inner.lastModified(path))
  override def mkdirs(dir: String): Unit = t.io("mkdirs")(inner.mkdirs(dir))
  override def readBytes(path: String): Array[Byte] =
    t.sized("readBytes")((b: Array[Byte]) => b.length.toLong)(inner.readBytes(path))
  override def readString(path: String): String =
    t.sized("readString")((s: String) => utf8(s))(inner.readString(path))
  override def readLines(path: String): Seq[String] =
    t.sized("readLines")((ls: Seq[String]) => ls.map(l => utf8(l) + 1).sum)(inner.readLines(path))
  override def writeBytes(path: String, bytes: Array[Byte]): Unit =
    t.sized("writeBytes")((_: Unit) => bytes.length.toLong)(inner.writeBytes(path, bytes))
  override def writeString(path: String, s: String): Unit =
    t.sized("writeString")((_: Unit) => utf8(s))(inner.writeString(path, s))
  override def putIfAbsent(src: String, dst: String): Boolean =
    t.sized("putIfAbsent")((won: Boolean) => if (won) 1L else 0L)(inner.putIfAbsent(src, dst))
  override def mirror(src: String, dst: String): Unit = t.io("mirror")(inner.mirror(src, dst))
  override def moveReplace(src: String, dst: String): Unit =
    t.io("moveReplace")(inner.moveReplace(src, dst))
  override def move(src: String, dst: String): Unit = t.io("move")(inner.move(src, dst))
  override def delete(path: String): Boolean = t.io("delete")(inner.delete(path))
  override def deleteRecursively(path: String): Unit =
    t.io("deleteRecursively")(inner.deleteRecursively(path))

  private def utf8(s: String): Long =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
}
