package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.pipeline.GraftLog

/** Merge-on-read DELETE (deletion vectors) coverage for graft-log:
  * data files stay byte-untouched, reads subtract recorded (file, pos)
  * coordinates, and `purgeDeletes` folds vectors back into rewrites. */
class GraftLogDvSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(name: String): String = {
    val p = s"/tmp/graft_test_dv_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  test("deleteVectored removes rows without touching any data file") {
    val base = freshBase("basic")
    GraftLog.overwriteClustered(
      (0L until 100L).map(k => (k, s"p$k")).toDF("k", "p"), base,
      Seq("k"), nFiles = 4)
    val before = GraftLog.snapshot(base)
    val mtimes = before.files.map(f => f -> new File(base, f).lastModified).toMap
    val lens = before.files.map(f => f -> new File(base, f).length).toMap
    GraftLog.deleteVectored(spark, base, col("k") % 10 === 3)
    val after = GraftLog.snapshot(base)
    // IDENTICAL file set, byte-identical files — only a dv sidecar added
    assert(after.files == before.files)
    after.files.foreach { f =>
      assert(new File(base, f).lastModified == mtimes(f))
      assert(new File(base, f).length == lens(f))
    }
    assert(after.dvFiles.nonEmpty)
    val ks = GraftLog.read(spark, base).select("k").as[Long].collect().sorted
    assert(ks.length == 90 && ks.forall(_ % 10 != 3))
  }

  test("NULL predicate rows survive (SQL DELETE semantics)") {
    val base = freshBase("nulls")
    GraftLog.overwriteClustered(
      Seq[(Long, java.lang.Long)]((1L, 10L), (2L, null), (3L, 30L))
        .toDF("k", "v"), base, Seq("k"), nFiles = 1)
    GraftLog.deleteVectored(spark, base, col("v") > 15)
    assert(GraftLog.read(spark, base).select("k").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
  }

  test("overlapping predicates never double-record a coordinate") {
    val base = freshBase("overlap")
    GraftLog.overwriteClustered(
      (0L until 50L).map(k => (k, k * 2)).toDF("k", "v"), base,
      Seq("k"), nFiles = 2)
    GraftLog.deleteVectored(spark, base, col("k") < 20)
    // overlaps [0,20): those coordinates are already dead — only 20..29 new
    GraftLog.deleteVectored(spark, base, col("k") < 30)
    val snap = GraftLog.snapshot(base)
    val dv = spark.read.parquet(snap.dvFiles.map(f => s"$base/$f"): _*)
    assert(dv.count() == 30L) // not 50: no duplicates
    assert(dv.distinct().count() == 30L)
    assert(GraftLog.read(spark, base).count() == 20L)
  }

  test("no-match and empty-scope predicates commit nothing") {
    val base = freshBase("nomatch")
    val v1 = GraftLog.overwriteClustered(
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), base, Seq("k"), nFiles = 1)
    assert(GraftLog.deleteVectored(spark, base, col("k") > 100) == v1)
    assert(GraftLog.deleteVectored(spark, base, col("k") > 100,
      scope = Some(("k", 101L, 999L))) == v1)
    assert(GraftLog.snapshot(base).dvFiles.isEmpty)
  }

  test("txnId makes deleteVectored idempotent") {
    val base = freshBase("txn")
    GraftLog.overwriteClustered(
      (0L until 20L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 1)
    val v = GraftLog.deleteVectored(spark, base, col("k") < 5,
      txnId = Some("dv-job-1"))
    // replay returns the SAME version, no new commit, no new sidecar
    assert(GraftLog.deleteVectored(spark, base, col("k") < 5,
      txnId = Some("dv-job-1")) == v)
    assert(GraftLog.currentVersion(base).contains(v))
    assert(GraftLog.snapshot(base).dvFiles.size == 1)
  }

  test("time travel: pre-DV version still sees the deleted rows") {
    val base = freshBase("timetravel")
    val v1 = GraftLog.overwriteClustered(
      (0L until 30L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 1)
    GraftLog.deleteVectored(spark, base, col("k") >= 10)
    assert(GraftLog.read(spark, base, version = Some(v1)).count() == 30L)
    assert(GraftLog.read(spark, base).count() == 10L)
  }

  test("zone-map scope prunes the census to intersecting files only") {
    val base = freshBase("scope")
    GraftLog.overwriteClustered(
      (0L until 100L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 4) // [0,24] [25,49] [50,74] [75,99]
    GraftLog.deleteVectored(spark, base, col("k") >= 30 && col("k") <= 40,
      scope = Some(("k", 30L, 40L)))
    val snap = GraftLog.snapshot(base)
    val dv = spark.read.parquet(snap.dvFiles.map(f => s"$base/$f"): _*)
    // every recorded coordinate points at the single intersecting file
    assert(dv.select("__dv_file").distinct().count() == 1L)
    assert(GraftLog.read(spark, base).count() == 89L)
  }

  test("purgeDeletes rewrites only dv-touched files; others survive byte-identical") {
    val base = freshBase("purge")
    GraftLog.overwriteClustered(
      (0L until 100L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 4)
    GraftLog.deleteVectored(spark, base, col("k") >= 30 && col("k") <= 40,
      scope = Some(("k", 30L, 40L)))
    val preFiles = GraftLog.snapshot(base).files
    val beforeRows = GraftLog.read(spark, base).select("k").as[Long]
      .collect().sorted.toSeq
    GraftLog.purgeDeletes(spark, base)
    val snap = GraftLog.snapshot(base)
    assert(snap.dvFiles.isEmpty) // all vectors folded away
    // 3 of 4 original files survive under their ORIGINAL names
    assert(preFiles.toSet.intersect(snap.files.toSet).size == 3)
    assert(GraftLog.read(spark, base).select("k").as[Long].collect().sorted
      .toSeq == beforeRows) // read identical before/after purge
    // purging again is a no-op (no commit)
    val v = snap.version
    assert(GraftLog.purgeDeletes(spark, base) == v)
  }

  test("compact folds deletion vectors into the rewrite") {
    val base = freshBase("compact")
    GraftLog.overwriteClustered(
      (0L until 60L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 3)
    GraftLog.deleteVectored(spark, base, col("k") % 2 === 0)
    GraftLog.compact(spark, base, targetRowsPerFile = 100)
    val snap = GraftLog.snapshot(base)
    assert(snap.dvFiles.isEmpty)
    assert(GraftLog.read(spark, base).count() == 30L)
  }

  test("upsert over a dv-carrying table does not resurrect deleted rows") {
    val base = freshBase("upsert")
    GraftLog.overwriteClustered(
      (0L until 20L).map(k => (k, s"old$k")).toDF("k", "p"), base,
      Seq("k"), nFiles = 2)
    GraftLog.deleteVectored(spark, base, col("k") >= 15)
    GraftLog.upsert(spark, base,
      Seq((3L, "new3"), (99L, "new99")).toDF("k", "p"), Seq("k"))
    val snap = GraftLog.snapshot(base)
    assert(snap.dvFiles.isEmpty) // full rewrite applied + dropped the dvs
    val out = GraftLog.read(spark, base).as[(Long, String)].collect().toMap
    assert(out.size == 16) // 15 survivors (k<15) + inserted k=99
    assert(out(3L) == "new3" && out(99L) == "new99")
    assert(!out.contains(17L))
  }

  test("change feed emits dv deletes once and never re-emits them on purge") {
    val base = freshBase("cdf")
    val v1 = GraftLog.overwriteClustered(
      (0L until 10L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 1)
    GraftLog.deleteVectored(spark, base, col("k") < 3)
    GraftLog.purgeDeletes(spark, base)
    val feed = GraftLog.readChangeFeed(spark, base, v1 + 1)
      .select(col("k"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSeq
    // dv commit (v1+1): exactly the 3 dv-deleted rows, as deletes
    val dvDels = feed.filter(r => r._3 == v1 + 1)
    assert(dvDels.forall(_._2 == "delete"))
    assert(dvDels.map(_._1).sorted == Seq(0L, 1L, 2L))
    // purge (v1+2): removed-file side emits ONLY the 7 live rows as
    // deletes (NOT re-emitting the 3 dv-dead ones) and the new file
    // inserts the same 7 → the purge's net effect is exactly 0
    val purge = feed.filter(r => r._3 == v1 + 2)
    assert(purge.count(_._2 == "delete") == 7)
    assert(purge.count(_._2 == "insert") == 7)
    assert(!purge.exists(r => r._2 == "delete" && r._1 < 3))
    // net across dv+purge = -3, matching final minus initial state
    val net = feed.groupBy(_._1).map { case (_, rows) =>
      rows.map(r => if (r._2 == "insert") 1 else -1).sum
    }.sum
    assert(net == -3)
  }

  test("change feed: a copy-on-write delete after a dv delete emits only live rows") {
    val base = freshBase("cdf_dv_then_delete")
    val v1 = GraftLog.overwriteClustered(
      (0L until 10L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 1)
    GraftLog.deleteVectored(spark, base, col("k") < 3)
    GraftLog.delete(spark, base, col("k") >= 8)
    val feed = GraftLog.readChangeFeed(spark, base, v1 + 1)
      .select(col("k"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    // v1+1: the 3 dv-deleted rows; v1+2: the rewritten file's 7 live
    // rows leave (never the dv-dead ones) and its 5 survivors re-enter
    assert(feed == ((0L until 3L).map(k => (k, "delete", v1 + 1)) ++
      (3L until 8L).map(k => (k, "insert", v1 + 2)) ++
      (3L until 10L).map(k => (k, "delete", v1 + 2))).sorted, s"got $feed")
  }

  test("vacuum keeps dv sidecars and the squashed checkpoint carries them") {
    val base = freshBase("vacuum")
    GraftLog.overwriteClustered(
      (0L until 40L).map(k => (k, k)).toDF("k", "v"), base,
      Seq("k"), nFiles = 2)
    GraftLog.append((40L until 50L).map(k => (k, k)).toDF("k", "v"), base)
    GraftLog.deleteVectored(spark, base, col("k") % 5 === 0)
    val beforeRows = GraftLog.read(spark, base).select("k").as[Long]
      .collect().sorted.toSeq
    GraftLog.vacuum(base, keepVersions = 1)
    // replay now starts at the checkpoint — dvs must have survived it
    val snap = GraftLog.snapshot(base)
    assert(snap.dvFiles.nonEmpty)
    snap.dvFiles.foreach(f => assert(new File(base, f).exists))
    assert(GraftLog.read(spark, base).select("k").as[Long].collect().sorted
      .toSeq == beforeRows)
  }
}
