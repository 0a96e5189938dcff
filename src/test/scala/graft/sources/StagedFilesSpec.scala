package graft.sources

import java.io.File

import graft.SparkSpec
import graft.pipeline.GraftLog

/** The one staged-write path: sorted, hive-aware listing, last-first
  * placement, and a scratch directory that never outlives the call —
  * not even when publishing a file fails part-way. */
class StagedFilesSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(name: String): String = {
    val p = s"/tmp/graft_test_staged_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  /** Delegates to the local store; the `failAt`-th `move` throws. */
  private final class FailingMove(failAt: Int) extends TableIO {
    private val under = LocalTableIO
    private val moves = new java.util.concurrent.atomic.AtomicInteger()
    def exists(p: String) = under.exists(p)
    def isDirectory(p: String) = under.isDirectory(p)
    def list(d: String) = under.list(d)
    def length(p: String) = under.length(p)
    def lastModified(p: String) = under.lastModified(p)
    def mkdirs(d: String) = under.mkdirs(d)
    def readBytes(p: String) = under.readBytes(p)
    def readString(p: String) = under.readString(p)
    def readLines(p: String) = under.readLines(p)
    def writeBytes(p: String, b: Array[Byte]) = under.writeBytes(p, b)
    def putIfAbsent(s: String, d: String) = under.putIfAbsent(s, d)
    def mirror(s: String, d: String) = under.mirror(s, d)
    def moveReplace(s: String, d: String) = under.moveReplace(s, d)
    def move(s: String, d: String) =
      if (moves.incrementAndGet() == failAt)
        throw new java.io.IOException(s"injected move failure: $s")
      else under.move(s, d)
    def delete(p: String) = under.delete(p)
    def deleteRecursively(p: String) = under.deleteRecursively(p)
  }

  private def stagingLeftUnder(base: String): Seq[String] =
    org.apache.commons.io.FileUtils
      .listFilesAndDirs(new File(base),
        org.apache.commons.io.filefilter.TrueFileFilter.INSTANCE,
        org.apache.commons.io.filefilter.TrueFileFilter.INSTANCE)
      .toArray(Array.empty[File]).toSeq
      .filter(_.getName.startsWith(".stage_")).map(_.getPath)

  test("publish lists part files through hive dirs in sorted order, " +
       "places them last-first and removes the scratch dir") {
    val scratch = freshBase("walk")
    val placed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val got = StagedFiles.publish(scratch) { dir =>
      for (rel <- Seq("k=b/part-1.parquet", "k=a%3Dx/part-0.parquet",
                      "k=a%3Dx/part-2.parquet", "k=b/_SUCCESS",
                      "k=b/.part-1.parquet.crc", "_SUCCESS")) {
        val f = new File(dir, rel); f.getParentFile.mkdirs(); f.createNewFile()
      }
    } { p => placed += p.index; (p.rel, p.index, p.count, p.partition) }
    assert(got == Seq(
      ("k=a%3Dx/part-0.parquet", 0, 3, Seq("k" -> "a=x")),
      ("k=a%3Dx/part-2.parquet", 1, 3, Seq("k" -> "a=x")),
      ("k=b/part-1.parquet", 2, 3, Seq("k" -> "b"))))
    assert(placed == Seq(2, 1, 0))
    assert(!new File(scratch).exists())
  }

  test("a move failing part-way leaves no .stage_ dir under a Delta or " +
       "graft-log table") {
    val delta = freshBase("delta")
    val glog = freshBase("graftlog")
    val df = (0L until 30L).toDF("id").repartition(3)
    DeltaInterop.overwrite(df, delta)
    GraftLog.overwrite(df, glog)
    val prior = TableIO.current
    try {
      TableIO.current = new FailingMove(2)
      intercept[java.io.IOException](DeltaInterop.append(df, delta))
      TableIO.current = new FailingMove(2)
      intercept[java.io.IOException](GraftLog.append(df, glog))
    } finally TableIO.current = prior
    assert(stagingLeftUnder(delta).isEmpty, stagingLeftUnder(delta))
    assert(stagingLeftUnder(glog).isEmpty, stagingLeftUnder(glog))
    // the failed appends committed nothing
    assert(DeltaInterop.read(spark, delta).count() == 30L)
    assert(GraftLog.read(spark, glog).count() == 30L)
  }
}
