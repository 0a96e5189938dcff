package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.DeltaInterop

/** OPTIMIZE (bin-packing compaction) and VACUUM semantics that the
  * oracle queries (q160/q161) can't observe directly: dataChange=false
  * on the swap actions, DV materialization, partition isolation,
  * retention, and the liveness safety contract. */
class DeltaMaintenanceSpec extends SparkSpec {

  private def tmp(): String = {
    val d = Files.createTempDirectory("delta_maint_").toFile
    d.deleteOnExit(); d.getPath
  }

  private def logLines(base: String, version: Long): Seq[String] = {
    val f = new File(base, f"_delta_log/$version%020d.json")
    Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString)
  }

  test("optimize packs small files into one and preserves every row") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    DeltaInterop.append(spark.range(10, 20).toDF("id").coalesce(1), base)
    DeltaInterop.append(spark.range(20, 30).toDF("id").coalesce(1), base)
    assert(DeltaInterop.snapshot(spark, base).files.size == 3)
    val v = DeltaInterop.optimize(spark, base)
    assert(v.contains(3L))
    assert(DeltaInterop.snapshot(spark, base).files.size == 1)
    val got = DeltaInterop.read(spark, base)
    assert(got.count() == 30)
    assert(got.agg(sum("id")).head().getLong(0) == (0 until 30).sum)
  }

  test("optimize bounds output files by targetFileBytes and fans out in one job") {
    val base = tmp()
    // six ~equal small files; a tiny target forces multiple bins —
    // output size is bounded by construction, never one unbounded file
    (0 until 6).foreach(i => (if (i == 0)
        DeltaInterop.overwrite(spark.range(i * 1000, (i + 1) * 1000).toDF("id")
          .coalesce(1), base)
      else DeltaInterop.append(spark.range(i * 1000, (i + 1) * 1000).toDF("id")
        .coalesce(1), base)))
    val sizes0 = DeltaInterop.snapshot(spark, base).files.map(f =>
      new File(base, f.path).length())
    val target = sizes0.max * 2 + sizes0.min // fits 2–3 files per bin
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DeltaInterop.optimize(spark, base, targetFileBytes = target)
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    // a constant number of jobs (AQE splits the broadcast-join write
    // into a few), NOT one per partition/bin — the old per-partition
    // loop would launch ≥6 write jobs + 6 stats jobs here
    assert(jobs <= 8, s"optimize launched $jobs jobs")
    val files = DeltaInterop.snapshot(spark, base).files
    assert(files.size >= 2 && files.size < 6,
      s"expected binned output, got ${files.size} files")
    files.foreach { f =>
      // parquet re-encoding shifts sizes; allow headroom over target
      assert(new File(base, f.path).length() <= target * 3 / 2,
        s"output file ${f.path} exceeds the target bound")
    }
    val got = DeltaInterop.read(spark, base)
    assert(got.count() == 6000)
    assert(got.agg(sum("id")).head().getLong(0) == (0L until 6000L).sum)
  }

  test("reorg purge of a fully-deleted file emits no empty add") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    DeltaInterop.append(spark.range(10, 20).toDF("id").coalesce(1), base)
    graft.sources.DeltaDml.deleteVectoredWhere(spark, base, col("id") < 10)
    DeltaInterop.reorgPurge(spark, base)
    val snap = DeltaInterop.snapshot(spark, base)
    // the fully-deleted file's bin produced nothing; the clean file and
    // no empty replacement remain
    assert(snap.files.size == 1)
    assert(snap.files.forall(_.dv.forall(_.cardinality == 0)))
    assert(DeltaInterop.read(spark, base).count() == 10)
  }

  test("optimize commits the swap with dataChange=false on both sides") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(5).toDF("id").coalesce(1), base)
    DeltaInterop.append(spark.range(5, 9).toDF("id").coalesce(1), base)
    val v = DeltaInterop.optimize(spark, base).get
    val lines = logLines(base, v)
    val removes = lines.filter(_.contains("\"remove\""))
    val adds = lines.filter(_.contains("\"add\""))
    assert(removes.size == 2 && adds.size == 1)
    assert((removes ++ adds).forall(_.contains("\"dataChange\":false")),
      s"OPTIMIZE must not signal a data change: $lines")
  }

  test("optimize materializes deletion vectors instead of carrying them") {
    val base = tmp()
    DeltaInterop.overwrite(
      spark.range(12).toDF("id").coalesce(1), base)
    val file = DeltaInterop.snapshot(spark, base).files.head.path
    DeltaInterop.deleteRowPositions(spark, base, file, Seq(1L, 3L, 5L))
    val before = DeltaInterop.read(spark, base).collect().map(_.getLong(0)).sorted
    DeltaInterop.optimize(spark, base)
    val after = DeltaInterop.snapshot(spark, base)
    assert(after.files.forall(_.dv.isEmpty), "DV must be gone after OPTIMIZE")
    val got = DeltaInterop.read(spark, base).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == before.toSeq && got.length == 9)
  }

  test("optimize refuses a deletion vector whose cardinality disagrees with its bitmap") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(12).toDF("id").coalesce(1), base)
    val file = DeltaInterop.snapshot(spark, base).files.head.path
    val v = DeltaInterop.deleteRowPositions(spark, base, file, Seq(1L, 3L, 5L))
    // the descriptor claims 2 deleted rows; the bitmap decodes 3
    val log = new File(base, f"_delta_log/$v%020d.json").toPath
    val text = Files.readString(log)
    assert(text.contains("\"cardinality\":3"))
    Files.writeString(log, text.replace("\"cardinality\":3", "\"cardinality\":2"))
    val e = intercept[IllegalArgumentException](DeltaInterop.optimize(spark, base))
    assert(e.getMessage.contains("corrupt DV (refusing)"), e.getMessage)
  }

  test("optimize is partition-isolated and keeps partition values") {
    val base = tmp()
    val df = spark.range(20).select(col("id"),
      (col("id") % 2).cast("int").as("b"))
    DeltaInterop.overwrite(df.coalesce(1), base, partitionBy = Seq("b"))
    DeltaInterop.append(df.filter(col("b") === 0).coalesce(1)
      .select(col("id") + 100 as "id", col("b")), base, partitionBy = Seq("b"))
    // b=0 has 2 files (compactable), b=1 has 1 clean file (left alone)
    val beforeB1 = DeltaInterop.snapshot(spark, base).files
      .filter(_.partitionValues.get("b").contains("1")).map(_.path)
    DeltaInterop.optimize(spark, base)
    val snap = DeltaInterop.snapshot(spark, base)
    val b0 = snap.files.filter(_.partitionValues.get("b").contains("0"))
    val b1 = snap.files.filter(_.partitionValues.get("b").contains("1"))
    assert(b0.size == 1, s"b=0 should be one file, got ${b0.map(_.path)}")
    assert(b1.map(_.path) == beforeB1, "untouched partition must keep its file")
    val got = DeltaInterop.read(spark, base)
    assert(got.count() == 30)
    assert(got.where(col("b") === 0).count() == 20)
  }

  test("optimize returns None when nothing qualifies") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(7).toDF("id").coalesce(1), base)
    assert(DeltaInterop.optimize(spark, base).isEmpty)
    assert(DeltaInterop.read(spark, base).count() == 7)
  }

  test("optimize compacts a column-mapped (name mode) table physically") {
    val base = tmp()
    val df = spark.range(10).select(col("id"), (col("id") * 3).as("v"))
    DeltaInterop.overwriteColumnMapped(df.repartition(3), base,
      Map("id" -> "col-aa", "v" -> "col-bb"))
    assert(DeltaInterop.snapshot(spark, base).files.size >= 2)
    DeltaInterop.optimize(spark, base)
    val snap = DeltaInterop.snapshot(spark, base)
    assert(snap.files.size == 1)
    // rewritten file must carry PHYSICAL names, like the originals
    val phys = spark.read.parquet(s"$base/${snap.files.head.path}")
      .schema.fieldNames.toSet
    assert(phys == Set("col-aa", "col-bb"), s"physical names lost: $phys")
    val got = DeltaInterop.read(spark, base)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.agg(sum("v")).head().getLong(0) == (0 until 10).map(_ * 3).sum)
  }

  test("vacuum deletes tombstoned + orphaned files, never live or log") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id"), base)
    DeltaInterop.overwrite(spark.range(100, 105).toDF("id"), base) // tombstones v0's file
    Files.writeString(new File(base, "orphan_from_failed_write.parquet").toPath, "x")
    val dead = DeltaInterop.vacuum(spark, base, retainMillis = 0L)
    assert(dead.exists(_.contains("orphan_from_failed_write")), s"orphan kept: $dead")
    assert(dead.size >= 2, s"tombstoned v0 file should be gone too: $dead")
    assert(new File(base, "_delta_log").isDirectory)
    assert(DeltaInterop.read(spark, base).count() == 5)
    // time travel to v0 is now broken BY DESIGN (vacuum's contract)
    intercept[Exception] {
      DeltaInterop.read(spark, base, versionAsOf = Some(0L)).collect()
    }
  }

  test("vacuum respects retention and keeps live DV bins") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    val file = DeltaInterop.snapshot(spark, base).files.head.path
    DeltaInterop.deleteRowPositions(spark, base, file, Seq(0L, 9L))
    // live: the data file + its DV bin. Nothing is tombstoned.
    val deadLongRetention = DeltaInterop.vacuum(spark, base)
    assert(deadLongRetention.isEmpty, s"default retention deleted $deadLongRetention")
    val deadNow = DeltaInterop.vacuum(spark, base, retainMillis = 0L)
    assert(deadNow.isEmpty, s"vacuum deleted live files: $deadNow")
    val got = DeltaInterop.read(spark, base).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (1L to 8L))
  }

  test("optimize zorder clusters files so range reads prune") {
    val base = tmp()
    // x, y each span [0, 64); Morton boxes of 16 output files are
    // 32-wide in x, so x <= 7 admits only the x-box [0,31] half
    val df = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).as("y"), col("id"))
    DeltaInterop.overwrite(df.repartition(6), base)
    val v = DeltaInterop.optimizeZorder(spark, base, Seq("x", "y"),
      filesPerPartition = 16)
    assert(v.nonEmpty)
    val snap = DeltaInterop.snapshot(spark, base)
    assert(snap.files.size == 16)
    val all = DeltaInterop.read(spark, base)
    assert(all.count() == 4096)
    assert(all.agg(sum("id")).head().getLong(0) == (0L until 4096L).sum)
    val narrow = DeltaInterop.readRange(spark, base, "x", Some(0L), Some(7L))
    assert(narrow.inputFiles.length < 16,
      s"z-order stats should prune files, scanned ${narrow.inputFiles.length}")
    assert(narrow.count() == 4096 / 8)
  }

  test("overwrite reconciles DV-carrying files (no resurrection)") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    val file = DeltaInterop.snapshot(spark, base).files.head.path
    DeltaInterop.deleteRowPositions(spark, base, file, Seq(0L, 1L))
    // the overwrite's remove must match the live (path, dvId) pair —
    // a bare remove would leave the DV file live and the read would
    // return BOTH generations
    DeltaInterop.overwrite(spark.range(100, 103).toDF("id").coalesce(1), base)
    val got = DeltaInterop.read(spark, base).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (100L to 102L), s"old generation leaked: ${got.toSeq}")
  }

  test("multi-part checkpoint write replays identically to JSON") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(20).toDF("id").coalesce(1), base)
    DeltaInterop.append(spark.range(20, 35).toDF("id").coalesce(1), base)
    val jsonState = DeltaInterop.read(spark, base)
      .collect().map(_.getLong(0)).sorted.toSeq
    DeltaInterop.checkpointParts(spark, base, parts = 3)
    val parts = new java.io.File(base, "_delta_log").listFiles()
      .filter(_.getName.matches(".*checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
    assert(parts.length >= 2, s"expected multi-part layout, got ${parts.toSeq}")
    // hide the JSON commits: the replay must reconstruct from parts only
    val dir = new java.io.File(base, "_delta_log")
    dir.listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => f.renameTo(new java.io.File(dir, s"hidden_${f.getName}")))
    val cpState = DeltaInterop.read(spark, base)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cpState == jsonState)
  }

  test("checkpoint protocol row carries writerFeatures for v7 tables") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    val file = DeltaInterop.snapshot(spark, base).files.head.path
    DeltaInterop.deleteRowPositions(spark, base, file, Seq(0L)) // DV → v3/v7
    DeltaInterop.checkpoint(spark, base)
    val cp = new java.io.File(base, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).head
    // a minWriterVersion=7 protocol without writerFeatures is malformed
    // per the Delta protocol — an external writer replaying this
    // checkpoint would reject it
    val proto = spark.read.parquet(cp.getPath)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion",
        "protocol.readerFeatures", "protocol.writerFeatures")
      .where(col("minReaderVersion").isNotNull).head()
    assert(proto.getInt(0) == 3 && proto.getInt(1) == 7)
    assert(proto.getSeq[String](2).contains("deletionVectors"))
    assert(proto.getSeq[String](3).contains("deletionVectors"),
      "v7 protocol checkpoint row must carry writerFeatures")
  }

  test("vacuum retention clocks from the tombstoning commit, not file age") {
    val base = tmp()
    DeltaInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    // age the data file far past any retention window
    val snap = DeltaInterop.snapshot(spark, base)
    val dataFile = new java.io.File(base, snap.files.head.path)
    dataFile.setLastModified(System.currentTimeMillis() - 30L * 24 * 3600 * 1000)
    // tombstone it JUST NOW
    DeltaInterop.overwrite(spark.range(100, 103).toDF("id").coalesce(1), base)
    // default 7-day retention: the old-but-just-tombstoned file must
    // survive — time travel inside the window keeps working
    assert(DeltaInterop.vacuum(spark, base).isEmpty)
    assert(DeltaInterop.read(spark, base, versionAsOf = Some(0L)).count() == 10)
    // zero retention may then reclaim it
    assert(DeltaInterop.vacuum(spark, base, retainMillis = 0L).nonEmpty)
  }

  test("checkpoint preserves column-mapping configuration") {
    val base = tmp()
    val df = spark.range(6).select(col("id"), (col("id") * 7).as("v"))
    DeltaInterop.overwriteColumnMapped(df.coalesce(1), base,
      Map("id" -> "col-p", "v" -> "col-q"))
    DeltaInterop.append(
      spark.range(6, 9).select(col("id"), (col("id") * 7).as("v"))
        .select(col("id").as("col-p"), col("v").as("col-q")).coalesce(1),
      base)
    DeltaInterop.checkpoint(spark, base)
    // replay now starts FROM the checkpoint (commit 0's metaData is not
    // re-read) — the mapping mode must come from the checkpoint row, or
    // every mapped column silently reads NULL
    val snap = DeltaInterop.snapshot(spark, base)
    assert(snap.columnMappingMode == "name",
      "checkpoint dropped delta.columnMapping.mode")
    val got = DeltaInterop.read(spark, base)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.agg(sum("v")).head().getLong(0) == (0 until 9).map(_ * 7).sum)
  }

  test("optimize compacts columnMapping id-mode tables by field id") {
    // id-mode files resolve by parquet field id — physical names are
    // free to diverge. The compaction reads by id, restamps ids into
    // the replacement file, and values survive bit-exact.
    val base = tmp()
    val df = spark.range(6).select(col("id"), (col("id") + 1).as("v"))
    DeltaInterop.overwriteColumnMapped(df.repartition(2), base,
      Map("id" -> "col-1", "v" -> "col-2"), mode = "id")
    assert(DeltaInterop.optimize(spark, base).nonEmpty)
    val snap = DeltaInterop.snapshot(spark, base)
    assert(snap.files.size == 1, s"expected one compacted file: ${snap.files}")
    val got = DeltaInterop.read(spark, base).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 6L).map(i => (i, i + 1)))
  }
}
