package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.pipeline.GraftLog

class GraftLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(name: String): String = {
    val p = s"/tmp/graft_test_log_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  test("overwrite/append/upsert commit atomically and read back exactly") {
    val base = freshBase("basic")
    val v1 = GraftLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "x"), base)
    val v2 = GraftLog.append(Seq((3L, "c")).toDF("k", "x"), base)
    val v3 = GraftLog.upsert(spark,
      base, Seq((2L, "B2"), (4L, "d")).toDF("k", "x"), Seq("k"))
    assert((v1, v2, v3) == (1L, 2L, 3L))
    assert(GraftLog.read(spark, base).as[(Long, String)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // time travel by version
    assert(GraftLog.read(spark, base, version = Some(2L))
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel by timestamp: the v2 commit's own stamp resolves to v2
    val ts2 = GraftLog.snapshot(base, Some(2L)).timestampMs
    assert(GraftLog.read(spark, base, asOfTimestampMs = Some(ts2))
      .count() == 3)
  }

  test("a crash mid-commit (files staged, log entry never published) leaves the previous snapshot readable") {
    val base = freshBase("crash")
    GraftLog.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), base)
    val before = GraftLog.read(spark, base).as[(Long, Double)].collect().toSet
    // simulate the crash: data files land, the commit rename never happens
    val orphans = GraftLog.stageFiles(
      Seq((99L, 99.0)).toDF("k", "v"), base)
    assert(orphans.nonEmpty &&
      orphans.forall(f => new File(base, f).exists()))
    // the table is untouched: snapshot resolution only trusts the log
    assert(GraftLog.currentVersion(base).contains(1L))
    assert(GraftLog.read(spark, base).as[(Long, Double)].collect().toSet == before)
  }

  test("compact rewrites files without changing content; old snapshots stay readable until vacuum") {
    val base = freshBase("compact")
    GraftLog.overwrite((1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
      .repartition(8), base)
    assert(GraftLog.snapshot(base).files.length == 8)
    GraftLog.compact(spark, base, targetRowsPerFile = 1000)
    assert(GraftLog.snapshot(base).files.length == 1)
    assert(GraftLog.read(spark, base).count() == 100)
    // snapshot isolation: the pre-compaction version still reads fine
    assert(GraftLog.read(spark, base, version = Some(1L)).count() == 100)
    // vacuum to the head drops the 8 old files but keeps the live one
    val deleted = GraftLog.vacuum(base, keepVersions = 1, retentionMs = 0L)
    assert(deleted == 8)
    assert(GraftLog.read(spark, base).count() == 100)
  }

  test("txnId makes commits idempotent: a replayed append lands once") {
    val base = freshBase("txn")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    val v1 = GraftLog.append(Seq((2L, "b")).toDF("k", "x"), base,
      txnId = Some("ckpt#0"))
    // replay of the same (checkpoint, batch) — must be a no-op
    val v2 = GraftLog.append(Seq((2L, "b")).toDF("k", "x"), base,
      txnId = Some("ckpt#0"))
    assert(v1 == v2)
    assert(GraftLog.read(spark, base).count() == 2)
    // a different txn appends normally
    GraftLog.append(Seq((3L, "c")).toDF("k", "x"), base, txnId = Some("ckpt#1"))
    assert(GraftLog.read(spark, base).count() == 3)
  }

  test("streamIngestGraftLog: replayed micro-batches commit exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = freshBase("stream")
    val ckpt = "/tmp/graft_test_log_stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
    val mem = MemoryStream[(Long, Double)]
    mem.addData((1L, 1.0), (2L, 2.0))
    graft.streaming.EventStreams.streamIngestGraftLog(
      mem.toDF().toDF("k", "v"), base, Some(ckpt))
    assert(GraftLog.read(spark, base).count() == 2)
    // crash window: offsets wiped, table commit survived → batch 0 replays
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
    val replay = MemoryStream[(Long, Double)]
    replay.addData((1L, 1.0), (2L, 2.0))
    graft.streaming.EventStreams.streamIngestGraftLog(
      replay.toDF().toDF("k", "v"), base, Some(ckpt))
    assert(GraftLog.read(spark, base).count() == 2,
      "replayed batch must not double-append")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
  }

  test("streamMergeGraftLog: CDC batches merge exactly once, collapsing intra-batch updates, sparing unhit files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = freshBase("stream_merge")
    val ckpt = "/tmp/graft_test_log_stream_merge_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
    GraftLog.overwriteClustered((1L to 100L).map(i => (i, s"v$i"))
      .toDF("k", "x"), base, Seq("k"), nFiles = 4)
    val filesBefore = GraftLog.snapshot(base).files.toSet
    // two updates for k=5 in ONE batch (seq decides), plus an insert
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData((5L, "stale", 1L), (5L, "fresh", 2L), (200L, "new", 1L))
    graft.streaming.EventStreams.streamMergeGraftLog(
      mem.toDF().toDF("k", "x", "seq"), base, "k",
      seqCol = Some("seq"), checkpoint = Some(ckpt))
    val out = GraftLog.read(spark, base)
    assert(out.count() == 101)
    assert(out.filter(col("k") === 5L).select("x").head().getString(0) == "fresh")
    // scoped: only the file holding k=5 was rewritten (k=200 is an insert)
    val survivors = filesBefore.intersect(GraftLog.snapshot(base).files.toSet)
    assert(survivors.size == 3, s"scoped stream merge rewrote too much: $survivors")
    val vAfterFirst = GraftLog.currentVersion(base)
    // crash window: offsets wiped, table commit survived → batch 0 replays
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
    val replay = MemoryStream[(Long, String, Long)]
    replay.addData((5L, "stale", 1L), (5L, "fresh", 2L), (200L, "new", 1L))
    graft.streaming.EventStreams.streamMergeGraftLog(
      replay.toDF().toDF("k", "x", "seq"), base, "k",
      seqCol = Some("seq"), checkpoint = Some(ckpt))
    assert(GraftLog.currentVersion(base) == vAfterFirst,
      "replayed merge batch must be a no-op")
    assert(GraftLog.read(spark, base).count() == 101)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
  }

  test("string zone maps compare by code point, not UTF-16 units") {
    val base = freshBase("utf8zm")
    // A file whose max is an emoji (U+1F600 — a surrogate pair in
    // UTF-16): Java String order says "😀" < "�" (surrogate units
    // 0xD800.. sort below 0xFFFD), but Spark's UTF8String order — the
    // one the zone-map stats were collected under — says "😀" > "�".
    // Pruning must use the latter or this file is falsely skipped.
    val emoji = "😀"
    val df = Seq(("�", 1L), (emoji, 2L)).toDF("s", "v")
    GraftLog.overwriteClustered(df, base, Seq("s"), nFiles = 1)
    assert(GraftLog.candidateFiles(base, "s", "�", emoji).nonEmpty,
      "two-sided zone-map check falsely pruned the file")
    // the one-sided autoScope path every DELETE/UPDATE census runs
    assert(GraftLog.candidateFilesFor(base, col("s") >= "�").nonEmpty,
      "autoScope falsely pruned the file")
    // and the DELETE census actually sees (and removes) both rows
    GraftLog.deleteVectored(spark, base, col("s") >= "�")
    assert(GraftLog.read(spark, base).count() == 0)
  }

  test("zone maps in the commit log prune files for range scans, surviving compact-free appends and vacuum") {
    val base = freshBase("zonemap")
    val df = (1L to 10000L).map(i => (i, s"v$i")).toDF("k", "x")
    GraftLog.overwriteClustered(df, base, Seq("k"), nFiles = 8)
    assert(GraftLog.snapshot(base).files.length == 8)
    // metadata-only pruning: a narrow range hits 1-2 of 8 files
    val kept = GraftLog.candidateFiles(base, "k", 100L, 200L)
    assert(kept.length <= 2, s"pruning too weak: ${kept.length}/8 files kept")
    // exactness: pruned scan == full-scan filter
    val got = GraftLog.readRange(spark, base, "k", 100L, 200L)
    assert(got.inputFiles.length == kept.length)
    assert(got.count() == 101)
    // disjoint range → zero files, empty result, schema intact
    val none = GraftLog.readRange(spark, base, "k", 50000L, 60000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "x"))
    // stats survive vacuum's checkpoint squash
    GraftLog.append(Seq((20000L, "z")).toDF("k", "x"), base)
    GraftLog.vacuum(base, keepVersions = 1, retentionMs = 0L)
    val keptAfter = GraftLog.candidateFiles(base, "k", 100L, 200L)
    assert(keptAfter.length <= 3, // the statless appended file is always kept
      s"pruning degraded after vacuum: ${keptAfter.length} files kept")
    assert(GraftLog.readRange(spark, base, "k", 100L, 200L).count() == 101)
  }

  test("zero zone-map candidates on a schemaless log read an empty frame with the footer schema") {
    val base = freshBase("schemaless")
    val (staged, stats) = GraftLog.stageFilesWithStats(
      Seq((1L, "a"), (2L, null), (3L, "c")).toDF("k", "x"), base, Seq("k"))
    GraftLog.commit(base, "append", staged, Seq.empty, stats = stats)
    assert(GraftLog.snapshot(base).schemaJson.isEmpty)
    val none = GraftLog.readRange(spark, base, "k", 50L, 60L)
    assert(none.columns.toSeq == Seq("k", "x") && none.collect().isEmpty)
    val noNulls = GraftLog.readIsNull(spark, base, "k")
    assert(noNulls.columns.toSeq == Seq("k", "x") && noNulls.collect().isEmpty)
    assert(GraftLog.readRange(spark, base, "k", 2L, 3L).as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((2L, null), (3L, "c")))
  }

  test("schema evolution: an append with a new column widens the table; old files read null") {
    val base = freshBase("evolve")
    GraftLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "x"), base)
    GraftLog.append(Seq((3L, "c", 30.5)).toDF("k", "x", "score"), base)
    val got = GraftLog.read(spark, base)
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30.5))))
    // time travel sees the PRE-evolution schema
    assert(GraftLog.read(spark, base, version = Some(1L)).columns.toSeq ==
      Seq("k", "x"))
    // type conflicts are rejected at commit time
    intercept[IllegalArgumentException] {
      GraftLog.append(Seq((4, 5)).toDF("k", "x"), base) // x: int, was string
    }
    // schema survives vacuum's checkpoint squash
    GraftLog.vacuum(base, keepVersions = 1, retentionMs = 0L)
    assert(GraftLog.read(spark, base).columns.toSeq == Seq("k", "x", "score"))
    assert(GraftLog.read(spark, base).count() == 3)
  }

  test("clustered compaction restores zone maps after statless appends") {
    val base = freshBase("recluster")
    GraftLog.overwriteClustered(
      (1L to 4000L).map(i => (i, i * 2)).toDF("k", "v"), base,
      Seq("k"), nFiles = 4)
    // statless appends dilute pruning: these files are always kept
    GraftLog.append(Seq((9000L, 1L)).toDF("k", "v"), base)
    GraftLog.append(Seq((9001L, 2L)).toDF("k", "v"), base)
    assert(GraftLog.candidateFiles(base, "k", 1L, 100L).length == 3) // 1 + 2 statless
    // clustered compact: fresh layout + fresh stats in one atomic commit
    GraftLog.compact(spark, base, targetRowsPerFile = 1000,
      clusterCols = Seq("k"))
    val kept = GraftLog.candidateFiles(base, "k", 1L, 100L)
    assert(kept.length == 1, s"expected 1 file after re-clustering, got ${kept.length}")
    assert(GraftLog.readRange(spark, base, "k", 1L, 100L).count() == 100)
    assert(GraftLog.read(spark, base).count() == 4002)
  }

  test("a snapshot-dependent commit against a moved head conflicts instead of tearing") {
    val base = freshBase("conflict")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    val snapV = GraftLog.snapshot(base).version
    // a concurrent writer lands between our read and our commit
    GraftLog.append(Seq((2L, "b")).toDF("k", "x"), base)
    val staged = GraftLog.stageFiles(Seq((1L, "A2")).toDF("k", "x"), base)
    intercept[java.util.ConcurrentModificationException] {
      GraftLog.commit(base, "upsert", staged, GraftLog.snapshot(base, Some(snapV)).files,
        expectedVersion = Some(snapV))
    }
    // nothing was torn: both committed rows still read back
    assert(GraftLog.read(spark, base).count() == 2)
  }

  test("vacuum's retention window spares fresh uncommitted staged files") {
    val base = freshBase("retention")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    // a concurrent writer has staged but not yet committed
    val staged = GraftLog.stageFiles(Seq((2L, "b")).toDF("k", "x"), base)
    // default retention: the just-written orphan must survive
    GraftLog.vacuum(base, keepVersions = 1)
    assert(staged.forall(f => new File(base, f).exists()),
      "vacuum deleted a fresh staged file inside the retention window")
    // the writer can still publish successfully
    GraftLog.commit(base, "append", staged, Seq.empty)
    assert(GraftLog.read(spark, base).count() == 2)
  }

  test("version slots are claimed atomically (optimistic concurrency)") {
    val base = freshBase("occ")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    // two writers race: both stage, both commit — sequential here, but
    // the protocol must hand out distinct consecutive versions
    val f1 = GraftLog.stageFiles(Seq((2L, "b")).toDF("k", "x"), base)
    val f2 = GraftLog.stageFiles(Seq((3L, "c")).toDF("k", "x"), base)
    val c1 = GraftLog.commit(base, "append", f1, Seq.empty)
    val c2 = GraftLog.commit(base, "append", f2, Seq.empty)
    assert(Set(c1, c2) == Set(2L, 3L))
    assert(GraftLog.read(spark, base).count() == 3)
  }

  test("concurrent writers never lose or tear a commit (real thread race)") {
    val base = freshBase("race")
    GraftLog.overwrite(Seq((0L, "seed")).toDF("k", "x"), base)
    // pre-stage on the test thread (Spark jobs), then race ONLY the
    // commit protocol from 8 threads × 3 commits each
    val staged = (1 to 24).map(i =>
      i -> GraftLog.stageFiles(Seq((i.toLong, s"w$i")).toDF("k", "x"), base))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val futures = staged.map { case (i, files) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          versions.add(GraftLog.commit(base, "append", files, Seq.empty,
            maxRetries = 200))
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    import scala.jdk.CollectionConverters._
    // 24 commits → 24 DISTINCT versions (no slot ever granted twice)
    assert(versions.asScala.size == 24, s"lost commits: $versions")
    assert(GraftLog.currentVersion(base).contains(25L))
    // every row is present exactly once
    assert(GraftLog.read(spark, base).count() == 25)
  }

  test("concurrent schema-evolving appends keep BOTH new columns (no latest-wins drop)") {
    val base = freshBase("schema_race")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    // two appends that each evolve the schema with a different new column;
    // run them from two threads — whichever loses the expectedVersion
    // guard must recompute its merge against the winner's schema
    val dfs = Seq(
      Seq((2L, "b", 1.5)).toDF("k", "x", "extra_d"),
      Seq((3L, "c", 7L)).toDF("k", "x", "extra_l"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = dfs.map(df => pool.submit(new Runnable {
      def run(): Unit = GraftLog.append(df, base)
    }))
    futures.foreach(_.get())
    pool.shutdown()
    val out = GraftLog.read(spark, base)
    assert(out.columns.toSet == Set("k", "x", "extra_d", "extra_l"),
      s"schema lost a concurrently-added column: ${out.columns.toSeq}")
    assert(out.count() == 3)
    assert(out.filter(col("extra_d").isNotNull).count() == 1)
    assert(out.filter(col("extra_l").isNotNull).count() == 1)
  }

  test("scoped upsert rewrites only key-range-hit files; untouched file names survive") {
    val base = freshBase("scoped")
    val rows = (1L to 800L).map(i => (i, s"v$i"))
    GraftLog.overwriteClustered(rows.toDF("k", "x"), base, Seq("k"), nFiles = 8)
    val before = GraftLog.snapshot(base)
    assert(before.files.size == 8)
    // updates confined to k <= 100 (one clustered file's range) + inserts
    // far above every existing range
    val updates = (1L to 100L).map(i => (i, s"U$i"))
      .++(Seq((5001L, "new1"), (5002L, "new2"))).toDF("k", "x")
    GraftLog.upsertScoped(spark, base, updates, "k")
    val after = GraftLog.snapshot(base)
    val survivors = before.files.toSet.intersect(after.files.toSet)
    val rewritten = before.files.toSet -- after.files.toSet
    assert(survivors.size >= 6,
      s"scoped merge rewrote too much: only ${survivors.size}/8 survived")
    assert(rewritten.nonEmpty, "the hit file must be swapped out")
    // exact MERGE semantics
    val expect = rows.map { case (k, x) => (k, if (k <= 100) s"U$k" else x) } ++
      Seq((5001L, "new1"), (5002L, "new2"))
    assert(GraftLog.read(spark, base).as[(Long, String)].collect().toSet ==
      expect.toSet)
    // rewritten files carry fresh zone maps: a narrow range scan still prunes
    val pruned = GraftLog.candidateFiles(base, "k", 700L, 750L)
    assert(pruned.size < after.files.size,
      s"zone maps lost after scoped merge: $pruned")
  }

  test("scoped upsert with only out-of-range keys is a pure insert: zero files rewritten") {
    val base = freshBase("scoped_insert")
    GraftLog.overwriteClustered((1L to 200L).map(i => (i, i * 2.0))
      .toDF("k", "v"), base, Seq("k"), nFiles = 4)
    val before = GraftLog.snapshot(base).files.toSet
    GraftLog.upsertScoped(spark, base,
      Seq((9001L, 1.0), (9002L, 2.0)).toDF("k", "v"), "k")
    val after = GraftLog.snapshot(base).files.toSet
    assert(before.subsetOf(after), "an insert-only scoped merge must not rewrite files")
    assert(GraftLog.read(spark, base).count() == 202)
  }

  test("a scoped (file-subset) commit against a moved head conflicts (OCC)") {
    val base = freshBase("scoped_occ")
    GraftLog.overwriteClustered((1L to 100L).map(i => (i, s"v$i"))
      .toDF("k", "x"), base, Seq("k"), nFiles = 2)
    val snapV = GraftLog.snapshot(base).version
    val victim = GraftLog.snapshot(base).files.take(1)
    // another writer commits first — our remove list is now stale
    GraftLog.append(Seq((200L, "late")).toDF("k", "x"), base)
    intercept[java.util.ConcurrentModificationException] {
      GraftLog.commit(base, "upsert_scoped", Seq.empty, victim,
        expectedVersion = Some(snapV))
    }
  }

  test("null-count stats prune IS NULL scans; ndv is recorded; both survive vacuum") {
    val base = freshBase("nullstats")
    // nulls confined to the low key range; clustered on k → few files hold them
    val df = (1L to 800L)
      .map(i => (i, if (i <= 100) None else Some(i * 2.0))).toDF("k", "v")
    GraftLog.overwriteClustered(df, base, Seq("k"), nFiles = 8,
      statsCols = Seq("v"))
    val all = GraftLog.snapshot(base).files
    assert(all.size == 8)
    val keep = GraftLog.candidateFilesIsNull(base, "v")
    assert(keep.size <= 2, s"IS NULL pruning too weak: ${keep.size}/8 kept")
    assert(GraftLog.readIsNull(spark, base, "v").count() == 100)
    // a column with no recorded stats keeps every file (conservative)
    assert(GraftLog.candidateFilesIsNull(base, "no_such").size == all.size)
    // clustered files are key-disjoint → summed per-file ndv ≈ true ndv
    val ndv = GraftLog.approxDistinct(base, "k")
    assert(ndv.exists(n => n > 600 && n < 1000), s"ndv estimate off: $ndv")
    // a statless append is conservatively kept; stats survive the squash
    GraftLog.append(Seq((9001L, Option.empty[Double])).toDF("k", "v"), base)
    GraftLog.vacuum(base, keepVersions = 1, retentionMs = 0)
    val keepAfter = GraftLog.candidateFilesIsNull(base, "v")
    assert(keepAfter.size <= keep.size + 1,
      s"null-count stats lost in vacuum squash: ${keepAfter.size} kept")
    assert(GraftLog.readIsNull(spark, base, "v").count() == 101)
  }

  test("scoped merge keeps stats coverage for NON-key columns on rewritten files") {
    val base = freshBase("scoped_stats")
    val df = (1L to 800L)
      .map(i => (i, if (i <= 100) None else Some(i * 2.0))).toDF("k", "v")
    GraftLog.overwriteClustered(df, base, Seq("k"), nFiles = 8,
      statsCols = Seq("v"))
    // merge confined to a non-null region of k
    GraftLog.upsertScoped(spark, base,
      (701L to 750L).map(i => (i, Some(i * 3.0))).toDF("k", "v"), "k")
    // the rewritten file must still carry v's null-count + ndv: IS NULL
    // pruning and the table-wide ndv signal survive the merge
    assert(GraftLog.candidateFilesIsNull(base, "v").size <= 2,
      s"IS NULL pruning degraded after scoped merge: " +
        s"${GraftLog.candidateFilesIsNull(base, "v")}")
    assert(GraftLog.approxDistinct(base, "v").isDefined,
      "a rewritten file without ndv poisons the table-wide estimate")
    assert(GraftLog.readIsNull(spark, base, "v").count() == 100)
  }

  test("incremental compaction folds only the small-file tail; healthy files survive by name") {
    val base = freshBase("compact_inc")
    GraftLog.overwriteClustered((1L to 5000L).map(i => (i, s"v$i"))
      .toDF("k", "x"), base, Seq("k"), nFiles = 2)
    val big = GraftLog.snapshot(base).files.toSet
    // three tiny per-batch appends — the debris an incremental sink leaves
    (1 to 3).foreach(i =>
      GraftLog.append(Seq((10000L + i, s"s$i")).toDF("k", "x"), base))
    assert(GraftLog.snapshot(base).files.size == 5)
    GraftLog.compactIncremental(spark, base,
      minBytes = 16 * 1024, targetRowsPerFile = 1000L)
    val after = GraftLog.snapshot(base).files.toSet
    assert(big.subsetOf(after), "healthy files must survive untouched")
    assert(after.size == 3, s"small tail must fold into one file: $after")
    assert(GraftLog.read(spark, base).count() == 5003)
    // a second pass is a no-op (<=1 small file left)
    val v = GraftLog.currentVersion(base)
    GraftLog.compactIncremental(spark, base, 16 * 1024, 1000L)
    assert(GraftLog.currentVersion(base) == v)
    // zone maps on the big clustered files still prune range scans
    assert(GraftLog.candidateFiles(base, "k", 1L, 10L).size < 3)
  }

  test("history lists every commit with operation and file deltas") {
    val base = freshBase("history")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    GraftLog.append(Seq((2L, "b")).toDF("k", "x"), base, txnId = Some("t1"))
    GraftLog.upsert(spark, base, Seq((1L, "a2")).toDF("k", "x"), Seq("k"))
    val h = GraftLog.history(spark, base)
      .select("version", "operation", "txn_id")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(h.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_._2).toSeq == Seq("overwrite", "append", "upsert"))
    assert(h(1)._3.contains("t1"))
  }

  test("vacuum rejects keepVersions = 0 instead of crashing with an empty retained set") {
    val base = freshBase("vacuum_zero")
    GraftLog.overwrite(Seq((1L, "a")).toDF("k", "x"), base)
    intercept[IllegalArgumentException] { GraftLog.vacuum(base, keepVersions = 0) }
    // the table is untouched
    assert(GraftLog.read(spark, base).count() == 1)
  }
}
