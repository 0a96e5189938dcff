package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{GraftLog, IncrementalView}

/** The storage seam is real: installing a different TableIO routes the
  * format layer's state operations through it — the property an
  * object-store deployment depends on. A recording proxy wraps the
  * local impl; the graft-log/Delta/Iceberg write+DML+read cycles must
  * drive their commits, claims and mirrors through the proxy. */
class TableIOSpec extends SparkSpec {
  import spark.implicits._

  /** Delegating proxy that records every operation name. With
    * `loseClaims` every `putIfAbsent` loses (consumes `src`, returns
    * false): each commit attempt sees another writer holding its slot. */
  private final class Recording(under: TableIO, loseClaims: Boolean = false)
      extends TableIO {
    val ops = new ConcurrentLinkedQueue[String]()
    private def rec[A](op: String)(a: => A): A = { ops.add(op); a }
    def exists(p: String) = rec("exists")(under.exists(p))
    def isDirectory(p: String) = rec("isDirectory")(under.isDirectory(p))
    def list(d: String) = rec("list")(under.list(d))
    def length(p: String) = rec("length")(under.length(p))
    def lastModified(p: String) = rec("lastModified")(under.lastModified(p))
    def mkdirs(d: String) = rec("mkdirs")(under.mkdirs(d))
    def readBytes(p: String) = rec("readBytes")(under.readBytes(p))
    def readString(p: String) = rec("readString")(under.readString(p))
    def readLines(p: String) = rec("readLines")(under.readLines(p))
    def writeBytes(p: String, b: Array[Byte]) =
      rec("writeBytes")(under.writeBytes(p, b))
    def putIfAbsent(s: String, d: String) = rec("putIfAbsent")(
      if (loseClaims) { under.delete(s); false } else under.putIfAbsent(s, d))
    def mirror(s: String, d: String) = rec("mirror")(under.mirror(s, d))
    def moveReplace(s: String, d: String) =
      rec("moveReplace")(under.moveReplace(s, d))
    def move(s: String, d: String) = rec("move")(under.move(s, d))
    def delete(p: String) = rec("delete")(under.delete(p))
    def deleteRecursively(p: String) =
      rec("deleteRecursively")(under.deleteRecursively(p))
  }

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("tio_").toFile
    d.deleteOnExit(); d.getPath
  }

  private def withRecording[A](body: Recording => A): A = {
    val rec = new Recording(LocalTableIO)
    val prior = TableIO.current
    TableIO.current = rec
    try body(rec) finally TableIO.current = prior
  }

  /** Runs `stmt` against a store where every claim is lost; returns
    * the class of what it threw and how many claims it made. */
  private def underLostClaims(stmt: => Any): (Class[_], Long) = {
    val rec = new Recording(LocalTableIO, loseClaims = true)
    val prior = TableIO.current
    TableIO.current = rec
    val e = try intercept[Exception](stmt) finally TableIO.current = prior
    (e.getClass, rec.ops.toArray.count(_ == "putIfAbsent").toLong)
  }

  test("graft-log commits, claims and DVs route through the installed TableIO") {
    withRecording { rec =>
      val base = tmp()
      GraftLog.overwrite((0L until 20L).map(k => (k, k * 2)).toDF("k", "v"),
        base)
      GraftLog.deleteVectored(spark, base, col("k") < 5)
      assert(GraftLog.read(spark, base).count() == 15)
      val ops = rec.ops.toArray.map(_.toString).toSet
      // the atomic version claim and the DV sidecar write must have
      // gone through the seam — a direct-File bypass would leave these
      // unobserved
      assert(Set("putIfAbsent", "writeBytes", "list", "move", "readString")
        .subsetOf(ops), s"ops seen: $ops")
    }
  }

  test("Delta and Iceberg commit cycles route through the installed TableIO") {
    withRecording { rec =>
      val dbase = tmp()
      DeltaInterop.overwrite(spark.range(10).toDF("id"), dbase)
      DeltaInterop.append(spark.range(10, 15).toDF("id").coalesce(1), dbase)
      assert(DeltaInterop.read(spark, dbase).count() == 15)
      assert(rec.ops.toArray.map(_.toString).toSet.contains("putIfAbsent"))
      rec.ops.clear()
      val ibase = tmp()
      IcebergInterop.overwrite(spark.range(8).toDF("id").coalesce(1), ibase)
      IcebergInterop.deletePositionsWhere(spark, ibase, col("id") < 2)
      assert(IcebergInterop.read(spark, ibase).count() == 6)
      val ops = rec.ops.toArray.map(_.toString).toSet
      // manifest avro bytes + the metadata version claim
      assert(Set("putIfAbsent", "writeBytes", "readBytes", "readString")
        .subsetOf(ops), s"ops seen: $ops")
    }
  }

  test("putIfAbsent: first writer wins, loser sees false, content survives") {
    val dir = tmp()
    val io = LocalTableIO
    io.writeString(s"$dir/a.tmp", "first")
    io.writeString(s"$dir/b.tmp", "second")
    assert(io.putIfAbsent(s"$dir/a.tmp", s"$dir/slot"))
    assert(!io.putIfAbsent(s"$dir/b.tmp", s"$dir/slot"))
    assert(io.readString(s"$dir/slot") == "first")
    // both staging files consumed either way
    assert(!io.exists(s"$dir/a.tmp") && !io.exists(s"$dir/b.tmp"))
  }

  // retryOnConflict: the one loop every format's commit races go through

  private def conflict() = new java.util.ConcurrentModificationException()

  test("retryOnConflict: a first-time success runs once, no loss handled") {
    var losses = 0
    assert(TableIO.retryOnConflict(3, onLoss = _ => losses += 1)(i => i) == 0)
    assert(losses == 0)
  }

  test("retryOnConflict: succeeds on the k-th attempt after k-1 losses") {
    var losses = 0
    val got = TableIO.retryOnConflict(5, onLoss = _ => losses += 1) { i =>
      if (i < 3) throw conflict() else i
    }
    assert(got == 3 && losses == 3)
  }

  test("retryOnConflict: on exhaustion rethrows the last CME instance") {
    val thrown = scala.collection.mutable.Buffer.empty[Exception]
    val e = intercept[java.util.ConcurrentModificationException](
      TableIO.retryOnConflict(2) { _ =>
        val c = conflict(); thrown += c; throw c
      })
    assert(thrown.size == 3)
    assert(e eq thrown.last)
  }

  test("retryOnConflict: any other exception propagates without a retry") {
    var attempts = 0
    var losses = 0
    intercept[IllegalStateException](
      TableIO.retryOnConflict(5, onLoss = _ => losses += 1) { _ =>
        attempts += 1; throw new IllegalStateException("not a race")
      })
    assert(attempts == 1 && losses == 0)
  }

  test("retryOnConflict: an onLoss that throws ends the loop") {
    var attempts = 0
    val e = intercept[IllegalArgumentException](TableIO.retryOnConflict(5,
      onLoss = c => throw new IllegalArgumentException("refuse", c)) { _ =>
        attempts += 1; throw conflict()
      })
    assert(attempts == 1)
    assert(e.getCause.isInstanceOf[java.util.ConcurrentModificationException])
  }

  // Retry bounds, pinned: a statement that loses every version claim
  // re-derives (Delta DML) or rebases (Iceberg append) a fixed number
  // of times; graft-log's slot-claim loop gives up with an IOException,
  // which no conflict-retry loop above it retries.

  test("lost claims: Delta UPDATE re-derives 5 times, then throws the CME") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(4).toDF("id").coalesce(1), base)
    val (cls, claims) = underLostClaims(DeltaDml.updateWhere(spark, base,
      col("id") === 1L, Map("id" -> lit(9L))))
    assert(cls == classOf[java.util.ConcurrentModificationException])
    assert(claims == 6)
  }

  test("lost claims: graft-log DELETE stops after 11 slot claims") {
    val base = tmp()
    GraftLog.overwrite((0L until 4L).toDF("k").coalesce(1), base)
    val (cls, claims) = underLostClaims(
      GraftLog.delete(spark, base, col("k") === 1L))
    assert(cls == classOf[java.io.IOException])
    assert(claims == 11)
  }

  test("lost claims: Iceberg append rebases 10 times, then throws the CME") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(4).toDF("id").coalesce(1), base)
    val (cls, claims) = underLostClaims(IcebergInterop.append(
      spark.range(4, 6).toDF("id").coalesce(1), base))
    assert(cls == classOf[java.util.ConcurrentModificationException])
    assert(claims == 11)
  }

  test("lost claims: incremental-view refresh stops after 11 slot claims") {
    val base = tmp()
    val view = s"${tmp()}/view"
    GraftLog.overwrite(Seq((0L, 1L, 1.0), (1L, 1L, 2.0)).toDF("k", "g", "v")
      .coalesce(1), base)
    val (cls, claims) = underLostClaims(IncrementalView.refreshAggregate(
      spark, base, view, Seq("g"), Seq("v")))
    assert(cls == classOf[java.io.IOException])
    assert(claims == 11)
  }
}
