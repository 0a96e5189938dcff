package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.IcebergInterop

/** Iceberg spec-conformance edges: metadata resolution, snapshot time
  * travel, manifest reuse on append, type mapping, delete-file refusal,
  * and a metadata chain crafted BY HAND (reader proven against the spec,
  * not against our own writer). */
class IcebergInteropSpec extends SparkSpec {

  private def tmp(): String = {
    val d = Files.createTempDirectory("iceberg_spec_").toFile
    d.deleteOnExit(); d.getPath
  }

  test("round trip: overwrite + append + read") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(10).toDF("id"), base)
    IcebergInterop.append(spark.range(100, 105).toDF("id"), base)
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 15)
    assert(got.agg(sum("id")).head().getLong(0) == (0 until 10).sum + (100 until 105).sum)
  }

  test("table-uuid is stable across appends, deletes and compaction") {
    val base = tmp()
    def uuidOf: String = {
      val hint = new File(base, "metadata/version-hint.text")
      val v = Files.readString(hint.toPath).trim
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(new File(base, s"metadata/v$v.metadata.json"))
        .get("table-uuid").asText()
    }
    IcebergInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    val u = uuidOf
    IcebergInterop.append(spark.range(10, 12).toDF("id").coalesce(1), base)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") === 0)
    IcebergInterop.rewriteDataFiles(spark, base)
    assert(uuidOf == u, "table-uuid must identify the TABLE, not a commit")
  }

  test("timestamp-as-of travel resolves to the latest commit at or before ts") {
    val base = tmp()
    // injectable clock: commits at 1000, 2000, 3000 ms — deterministic
    IcebergInterop.withClock(IcebergInterop.tickingClock(1000L, 1000L)) {
      IcebergInterop.overwrite(spark.range(4).toDF("id"), base)      // @1000
      IcebergInterop.append(spark.range(4, 8).toDF("id"), base)      // @2000
      IcebergInterop.append(spark.range(8, 10).toDF("id"), base)     // @3000
    }
    // exactly at a commit → that commit; between commits → the earlier
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 1000L).count() == 4)
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 1500L).count() == 4)
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 2000L).count() == 8)
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 2999L).count() == 8)
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 9999L).count() == 10)
    // before the first commit there is no table state
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.snapshotIdAsOf(base, 999L)
    }
    assert(e.getMessage.contains("at or before"))
    // delete snapshots are stamped by the same clock
    IcebergInterop.withClock(() => 5000L) {
      IcebergInterop.deletePositionsWhere(spark, base, col("id") < 2)
    }
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 4999L).count() == 10)
    assert(IcebergInterop.readAsOfTimestamp(spark, base, 5000L).count() == 8)
  }

  test("snapshot time travel reads historical file sets") {
    val base = tmp()
    val s1 = IcebergInterop.overwrite(spark.range(4).toDF("id"), base)
    val s2 = IcebergInterop.append(spark.range(4, 8).toDF("id"), base)
    val s3 = IcebergInterop.overwrite(spark.range(100, 101).toDF("id"), base)
    assert(IcebergInterop.read(spark, base, Some(s1)).count() == 4)
    assert(IcebergInterop.read(spark, base, Some(s2)).count() == 8)
    assert(IcebergInterop.read(spark, base, Some(s3)).count() == 1)
    assert(IcebergInterop.read(spark, base).count() == 1)
  }

  test("iceberg schema JSON maps to Spark types (both directions)") {
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType),
      StructField("c", DecimalType(18, 2)),
      StructField("d", TimestampNTZType),
      StructField("e", DoubleType)))
    val base = tmp()
    import spark.implicits._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        1L, "x", new java.math.BigDecimal("12.34"),
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0), 1.5)), 1), schema)
    IcebergInterop.overwrite(df, base)
    // required-ness survives in the RESOLVED schema (Spark's file scan
    // itself relaxes nullability, so assert on the snapshot, not the scan)
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.schema("a").dataType == LongType && !snap.schema("a").nullable)
    assert(snap.schema("c").dataType == DecimalType(18, 2))
    assert(snap.schema("d").dataType == TimestampNTZType)
    val got = IcebergInterop.read(spark, base)
    assert(got.schema("c").dataType == DecimalType(18, 2))
    assert(got.schema("d").dataType == TimestampNTZType)
    assert(got.count() == 1)
  }

  // rewrite every record of an avro file in place with `f`
  private def rewriteAvro(file: File)(f: org.apache.avro.generic.GenericRecord => Unit): Unit = {
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val r = DataFileReader.openReader(file, new GenericDatumReader[GenericRecord]())
    val rows = new scala.collection.mutable.ArrayBuffer[GenericRecord]
    val sch = r.getSchema
    while (r.hasNext) rows += r.next()
    r.close()
    rows.foreach(f)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, file); rows.foreach(w.append); w.close()
  }

  test("reader refuses non-position delete files in a delete manifest") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(3).toDF("id"), base)
    // flip the manifest-list content field to 1 (delete manifest) while
    // the entries keep data content — a malformed/equality-delete shape
    // this reader must refuse rather than misread
    val metaDir = new File(base, "metadata")
    val ml = metaDir.listFiles().filter(_.getName.startsWith("snap-")).head
    rewriteAvro(ml)(_.put("content", 1))
    val e = intercept[IllegalArgumentException](IcebergInterop.read(spark, base))
    assert(e.getMessage.contains("delete"))
  }

  test("v2 position deletes subtract rows merge-on-read") {
    val base = tmp()
    val df = spark.range(20).select(col("id"), (col("id") * 10).as("v"))
    IcebergInterop.overwrite(df.coalesce(1), base)
    val snap0 = IcebergInterop.snapshot(spark, base)
    assert(snap0.files.size == 1)
    // rows written in range order: position == id
    val sid = IcebergInterop.addPositionDeletes(spark, base,
      Seq(snap0.files.head.rawPath -> Seq(0L, 5L, 19L)))
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 17)
    assert(got.where(col("id").isin(0, 5, 19)).count() == 0)
    assert(got.agg(sum("v")).head().getLong(0) ==
      (0 until 20).filterNot(Set(0, 5, 19)).map(_ * 10).sum)
    // snapshot time travel: pre-delete snapshot still sees all rows
    assert(IcebergInterop.read(spark, base, Some(snap0.snapshotId)).count() == 20)
    assert(sid == snap0.snapshotId + 1)
  }

  test("deletePositionsWhere: predicate-driven, distributed, multi-file") {
    import spark.implicits._
    val base = tmp()
    val df = (0L until 400L).map(i => (i, i % 9)).toDF("id", "g")
    IcebergInterop.overwrite(df.repartition(3), base)
    assert(IcebergInterop.snapshot(spark, base).files.size == 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") % 4 === 0)
    val got = IcebergInterop.read(spark, base).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == (0L until 400L).filter(_ % 4 != 0))
    // predicate-NULL rows survive + overlap never double-deletes
    IcebergInterop.deletePositionsWhere(spark, base, col("id") % 2 === 0)
    assert(IcebergInterop.read(spark, base).count() == 200)
    // no-match: no new snapshot committed
    val ids = IcebergInterop.snapshotIds(base)
    assert(IcebergInterop.deletePositionsWhere(spark, base,
      col("id") > 9999) == ids.last)
    assert(IcebergInterop.snapshotIds(base) == ids)
    // the delete files are sorted by (file_path, pos), per spec
    val delParquets = new File(base, "data").listFiles()
      .filter(_.getName.startsWith("delete-"))
    assert(delParquets.nonEmpty)
    delParquets.foreach { f =>
      val rows = spark.read.parquet(f.getPath)
        .select("file_path", "pos").as[(String, Long)].collect().toSeq
      assert(rows == rows.sortBy(identity), s"${f.getName} is unsorted")
    }
  }

  test("readChangelog classifies snapshot diffs: insert, delete, DV masking") {
    import spark.implicits._
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 20L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1), base)
    IcebergInterop.append(
      (100L until 105L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1), base)
    IcebergInterop.deletePositionsWhere(spark, base, col("k") % 7 === 0)
    val Seq(s1, s2, s3) = IcebergInterop.snapshotIds(base)
    val log = IcebergInterop.readChangelog(spark, base, s1)
      .select("_snapshot_id", "_change_type", "k")
      .as[(Long, String, Long)].collect().toSet
    // s2: the append's 5 rows insert; s3: positions of k%7==0 die
    val expect =
      (100L until 105L).map(k => (s2, "insert", k)).toSet ++
      ((0L until 20L) ++ (100L until 105L)).filter(_ % 7 == 0)
        .map(k => (s3, "delete", k)).toSet
    assert(log == expect)
    // overlapping second delete: only NEWLY masked rows emit
    IcebergInterop.deletePositionsWhere(spark, base, col("k") % 7 <= 1)
    val s4 = IcebergInterop.snapshotIds(base).last
    val tail = IcebergInterop.readChangelog(spark, base, s3, Some(s4))
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    val expectTail = ((0L until 20L) ++ (100L until 105L))
      .filter(k => k % 7 <= 1 && k % 7 != 0).map(("delete", _)).toSet
    assert(tail == expectTail, s"got $tail")
    // a rewriting snapshot (overwrite) emits delete+insert
    IcebergInterop.overwrite(Seq((999L, 9.0)).toDF("k", "v").coalesce(1), base)
    val s5 = IcebergInterop.snapshotIds(base).last
    val rw = IcebergInterop.readChangelog(spark, base, s4, Some(s5))
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    // deletes = rows live at s4
    val liveAtS4 = ((0L until 20L) ++ (100L until 105L))
      .count(k => !(k % 7 <= 1))
    assert(rw == Map("delete" -> liveAtS4.toLong, "insert" -> 1L))
  }

  test("readChangelog derives equality-delete rows with the strict sequence gate") {
    import spark.implicits._
    val base = tmp()
    IcebergInterop.overwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1), base)
    val Seq(s1) = IcebergInterop.snapshotIds(base)
    // eq-delete keys 1 and 3, then re-append key 3: the re-inserted copy
    // has a HIGHER sequence, so only the changelog of the delete snapshot
    // emits it — never the newer copy
    IcebergInterop.addEqualityDeletes(spark, base,
      Seq((1L, "a"), (3L, "c")).toDF("k", "s"), Seq("k"))
    val s2 = IcebergInterop.snapshotIds(base).last
    IcebergInterop.append(Seq((3L, "c2")).toDF("k", "s").coalesce(1), base)
    val s3 = IcebergInterop.snapshotIds(base).last
    val log = IcebergInterop.readChangelog(spark, base, s1)
      .select("_snapshot_id", "_change_type", "k", "s")
      .as[(Long, String, Long, String)].collect().toSet
    assert(log == Set(
      (s2, "delete", 1L, "a"), (s2, "delete", 3L, "c"),
      (s3, "insert", 3L, "c2")))
    // and a row hit by BOTH a position and an equality delete emits once
    val base2 = tmp()
    IcebergInterop.overwrite(
      Seq((10L, "x"), (11L, "y")).toDF("k", "s").coalesce(1), base2)
    val Seq(t1) = IcebergInterop.snapshotIds(base2)
    val raw = IcebergInterop.snapshot(spark, base2).files.head.rawPath
    IcebergInterop.addPositionDeletes(spark, base2, Seq(raw -> Seq(0L)))
    // same snapshot cannot carry both via the fixture writers, so use
    // two snapshots and read the SECOND one's changelog alone: position
    // delete killed k=10 at t2; the eq delete at t3 targets 10 AND 11 —
    // 10 is already dead, only 11 emits
    IcebergInterop.addEqualityDeletes(spark, base2,
      Seq((10L, "x"), (11L, "y")).toDF("k", "s"), Seq("k"))
    val t3 = IcebergInterop.snapshotIds(base2).last
    val tail = IcebergInterop.readChangelog(spark, base2, t1)
      .select("_change_type", "k").as[(String, Long)].collect()
    assert(tail.count(_ == (("delete", 10L))) == 1,
      s"already-dead row re-emitted: ${tail.toSeq}")
    assert(tail.toSet == Set(("delete", 10L), ("delete", 11L)))
    assert(IcebergInterop.readChangelog(spark, base2, t1, Some(t3))
      .count() == 2)
  }

  test("delete manifests carry through appends; new data is unaffected") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base)
    val f0 = IcebergInterop.snapshot(spark, base).files.head.rawPath
    IcebergInterop.addPositionDeletes(spark, base, Seq(f0 -> Seq(0L, 1L, 2L)))
    // append AFTER the delete: carried delete manifest must still mask
    // the old file's rows, and must not touch the new file (higher seq)
    IcebergInterop.append(spark.range(100, 105).toDF("id").coalesce(1), base)
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 12, s"got ${got.count()}")
    assert(got.where(col("id") < 3).count() == 0)
    assert(got.where(col("id") >= 100).count() == 5)
  }

  test("a delete older than the data file does not apply (sequence numbers)") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(8).toDF("id").coalesce(1), base)
    val f0 = IcebergInterop.snapshot(spark, base).files.head.rawPath
    IcebergInterop.addPositionDeletes(spark, base, Seq(f0 -> Seq(0L, 1L)))
    assert(IcebergInterop.read(spark, base).count() == 6)
    // rewind the delete manifest's sequence number below the data's:
    // per spec a position delete applies only to files with dataSeq ≤
    // deleteSeq, so the delete must stop applying
    val metaDir = new File(base, "metadata")
    val ml = metaDir.listFiles().filter(_.getName.startsWith("snap-"))
      .maxBy(_.getName.split("-")(1).toLong)
    rewriteAvro(ml) { r =>
      if (r.get("content").toString.toInt == 1) r.put("sequence_number", 0L)
    }
    assert(IcebergInterop.read(spark, base).count() == 8,
      "a lower-sequence delete still applied to newer data")
  }

  test("v2 equality deletes subtract matching rows merge-on-read") {
    val base = tmp()
    val df = spark.range(20).select(col("id"), (col("id") * 10).as("v"))
    IcebergInterop.overwrite(df.coalesce(1), base)
    val snap0 = IcebergInterop.snapshot(spark, base)
    // delete ids {3, 7, 11} by VALUE, not position
    IcebergInterop.addEqualityDeletes(spark, base,
      spark.range(3).select((col("id") * 4 + 3).as("id")), Seq("id"))
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 17)
    assert(got.where(col("id").isin(3, 7, 11)).count() == 0)
    assert(got.agg(sum("v")).head().getLong(0) ==
      (0 until 20).filterNot(Set(3, 7, 11)).map(_ * 10).sum)
    // pre-delete snapshot still sees all rows
    assert(IcebergInterop.read(spark, base, Some(snap0.snapshotId)).count() == 20)
  }

  test("equality deletes apply strictly to OLDER data: re-inserted keys survive") {
    // the CDC upsert shape: delete-by-key then re-append the key — the
    // new row has a higher data sequence than the delete, and the spec's
    // STRICT inequality must keep it
    val base = tmp()
    IcebergInterop.overwrite(
      spark.range(10).select(col("id"), (col("id") * 10).as("v")).coalesce(1), base)
    IcebergInterop.addEqualityDeletes(spark, base,
      spark.range(1).select((col("id") + 5).as("id")), Seq("id"))
    assert(IcebergInterop.read(spark, base).count() == 9)
    IcebergInterop.append(
      spark.range(1).select((col("id") + 5).as("id"), lit(999L).as("v")).coalesce(1),
      base)
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 10)
    val row5 = got.where(col("id") === 5).collect()
    assert(row5.length == 1 && row5.head.getLong(1) == 999L,
      "the re-inserted key must be the NEW row, not the deleted one")
  }

  test("positionalized equality deletes follow a renamed key column") {
    val base = tmp()
    IcebergInterop.overwrite(
      spark.range(10).select(col("id"), (col("id") * 10).as("v")).coalesce(1), base)
    IcebergInterop.addEqualityDeletes(spark, base,
      spark.range(3).select((col("id") * 3 + 1).as("id")), Seq("id"))
    IcebergInterop.renameColumn(base, "id", "key")
    IcebergInterop.positionalizeEqualityDeletes(spark, base)
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.eqDeletes.isEmpty && snap.deletes.nonEmpty)
    val got = IcebergInterop.read(spark, base).select("key", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(0L, 2L, 3L, 5L, 6L, 8L, 9L).map(k => (k, k * 10)))
  }

  test("multi-column equality deletes match null-safely (IS NOT DISTINCT FROM)") {
    val base = tmp()
    // tag is null for odd ids
    val df = spark.range(6).select(col("id"),
      when(col("id") % 2 === 0, concat(lit("t"), (col("id") % 3).cast("string")))
        .as("tag"))
    IcebergInterop.overwrite(df.coalesce(1), base)
    // delete the (id=1, tag=NULL) row by value — a non-null-safe compare
    // would match nothing and resurrect it
    IcebergInterop.addEqualityDeletes(spark, base,
      df.where(col("id") === 1).select(col("id"), col("tag")), Seq("id", "tag"))
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 5)
    assert(got.where(col("id") === 1).count() == 0,
      "null tag did not match null-safely — the deleted row resurrected")
  }

  test("manifest bounds skipping: range read opens only overlapping files") {
    val base = tmp()
    // 8 commits, each a tight disjoint id range → 8 files whose
    // lower/upper bounds land in (carried) manifests
    IcebergInterop.overwrite(spark.range(0, 100)
      .select(col("id"), col("id").cast("string").as("tag")).coalesce(1), base)
    (1 until 8).foreach(i =>
      IcebergInterop.append(spark.range(i * 100L, i * 100L + 100)
        .select(col("id"), col("id").cast("string").as("tag")).coalesce(1), base))
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.files.size == 8)
    assert(snap.files.forall(f => f.lowerBounds.nonEmpty && f.upperBounds.nonEmpty),
      "writer recorded no bounds")
    val full = IcebergInterop.read(spark, base)
    val ranged = IcebergInterop.readRange(spark, base, "id", Some(250L), Some(310L))
    assert(ranged.inputFiles.length == 2,
      s"expected 2 files admitted, scanned ${ranged.inputFiles.length}")
    assert(ranged.count() == 61)
    assert(ranged.agg(sum("id")).head().getLong(0) ==
      full.where(col("id").between(250, 310)).agg(sum("id")).head().getLong(0))
    // open-ended + string-typed bounds
    assert(IcebergInterop.readRange(spark, base, "id", Some(700L), None)
      .inputFiles.length == 1)
    assert(IcebergInterop.readRange(spark, base, "tag", Some("500"), Some("500"))
      .count() == 1)
  }

  test("bounds skipping is conservative: entries without bounds are kept") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(0, 10).toDF("id").coalesce(1), base)
    IcebergInterop.append(spark.range(100, 110).toDF("id").coalesce(1), base)
    // strip the SECOND file's bounds, as a manifest from a writer that
    // records none (e.g. an older engine) would look
    val metaDir = new File(base, "metadata")
    metaDir.listFiles().filter(_.getName.startsWith("manifest-")).foreach { m =>
      rewriteAvro(m) { r =>
        val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        if (df.get("file_path").toString.contains("-0.parquet") &&
            spark.read.parquet(df.get("file_path").toString)
              .agg(min("id")).head().getLong(0) == 100L) {
          df.put("lower_bounds", null); df.put("upper_bounds", null)
        }
      }
    }
    // range [100,105] misses file 1's bounds entirely; the stripped file
    // must still be scanned (conservative) and supply the rows
    val got = IcebergInterop.readRange(spark, base, "id", Some(100L), Some(105L))
    assert(got.count() == 6)
  }

  test("schema evolution: a renamed column resolves by field id") {
    val base = tmp()
    IcebergInterop.overwrite(
      spark.range(6).select(col("id"), (col("id") * 2).as("old_name")), base)
    // hand-evolve the table: a new schema version renames old_name →
    // new_name but keeps field id 2, exactly as an Iceberg RENAME does.
    // Name-based resolution would read new_name as all-null; the spec's
    // contract is id-based, so values must follow the id.
    val metaDir = new File(base, "metadata")
    val hint = new File(metaDir, "version-hint.text")
    val v = Files.readString(hint.toPath).trim.toLong
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new File(metaDir, s"v$v.metadata.json"))
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val newSchema = mapper.createObjectNode()
    newSchema.put("type", "struct"); newSchema.put("schema-id", 1)
    val fs = newSchema.putArray("fields")
    val f1 = fs.addObject()
    f1.put("id", 1); f1.put("name", "id"); f1.put("required", false); f1.put("type", "long")
    val f2 = fs.addObject()
    f2.put("id", 2); f2.put("name", "new_name"); f2.put("required", false); f2.put("type", "long")
    root.withArray("schemas").add(newSchema)
    root.put("current-schema-id", 1)
    Files.writeString(new File(metaDir, s"v${v + 1}.metadata.json").toPath,
      mapper.writeValueAsString(root))
    Files.writeString(hint.toPath, (v + 1).toString)
    val got = IcebergInterop.read(spark, base)
    assert(got.schema.fieldNames.toSeq == Seq("id", "new_name"))
    assert(got.where(col("new_name").isNull).count() == 0,
      "rename fell back to name matching — data lost")
    assert(got.agg(sum("new_name")).head().getLong(0) == (0 until 6).map(_ * 2).sum)
  }

  test("reads a hand-crafted metadata chain (writer not involved)") {
    val base = tmp()
    val metaDir = new File(base, "metadata"); metaDir.mkdirs()
    val dataDir = new File(base, "data"); dataDir.mkdirs()
    // data file with a parquet field id, as every real Iceberg writer
    // stamps (the reader resolves columns by id, not name)
    val scratch = new File(base, ".s")
    spark.range(6).select(col("id").as("id",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 1L).build()))
      .coalesce(1).write.parquet(scratch.getPath)
    val pf = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
    val dataFile = new File(dataDir, "d0.parquet")
    Files.move(pf.toPath, dataFile.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(scratch)
    // manifest + manifest list via raw avro with spec field names
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val entrySch = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"file_path","type":"string"},
          {"name":"file_format","type":"string"}]}}]}""")
    val mFile = new File(metaDir, "m0.avro")
    val w1 = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySch))
    w1.create(entrySch, mFile)
    val ent = new GenericData.Record(entrySch)
    ent.put("status", 1)
    val dfr = new GenericData.Record(entrySch.getField("data_file").schema())
    dfr.put("file_path", dataFile.getAbsolutePath)
    dfr.put("file_format", "parquet")
    ent.put("data_file", dfr)
    w1.append(ent); w1.close()
    val mlSch = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"}]}""")
    val mlFile = new File(metaDir, "snap-1.avro")
    val w2 = new DataFileWriter(new GenericDatumWriter[GenericRecord](mlSch))
    w2.create(mlSch, mlFile)
    val mf = new GenericData.Record(mlSch)
    mf.put("manifest_path", mFile.getAbsolutePath)
    w2.append(mf); w2.close()
    Files.writeString(new File(metaDir, "v1.metadata.json").toPath,
      s"""{"format-version":2,"table-uuid":"t","location":"$base",
          "last-sequence-number":1,"last-updated-ms":0,"last-column-id":1,
          "current-schema-id":0,
          "schemas":[{"type":"struct","schema-id":0,"fields":[
            {"id":1,"name":"id","required":false,"type":"long"}]}],
          "default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
          "last-partition-id":999,"default-sort-order-id":0,"sort-orders":[],
          "current-snapshot-id":1,
          "snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":0,
            "manifest-list":"${mlFile.getAbsolutePath}",
            "summary":{"operation":"append"},"schema-id":0}]}""")
    Files.writeString(new File(metaDir, "version-hint.text").toPath, "1")
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 6)
    assert(got.schema.fieldNames.toSeq == Seq("id"))
    assert(got.agg(sum("id")).head().getLong(0) == 15)
  }

  test("identity partitions: columns stay in data files, manifests prune the scan") {
    val base = tmp()
    val df = spark.range(40).select(col("id"),
      (col("id") % 4).cast("int").as("bucket"))
    IcebergInterop.overwrite(df, base, partitionBy = Seq("bucket"))
    IcebergInterop.append(
      spark.range(100, 104).select(col("id"),
        (col("id") % 4).cast("int").as("bucket")),
      base, partitionBy = Seq("bucket"))
    // Iceberg shape: the partition column is IN the data files
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.partitionColumns == Seq("bucket"))
    snap.files.foreach { f =>
      assert(spark.read.parquet(f.path).schema.fieldNames.contains("bucket"))
      assert(f.partitionValues.keySet == Set("bucket"))
    }
    val all = IcebergInterop.read(spark, base)
    assert(all.count() == 44)
    val one = IcebergInterop.read(spark, base,
      partitionFilters = Map("bucket" -> "2"))
    assert(one.count() == 11)
    assert(one.inputFiles.length < all.inputFiles.length,
      s"pruned read scans ${one.inputFiles.length}/${all.inputFiles.length}")
    val e = intercept[IllegalArgumentException](
      IcebergInterop.read(spark, base, partitionFilters = Map("nope" -> "1")))
    assert(e.getMessage.contains("not an identity partition column"))
  }

  test("partitioned commit fans out in one write job, not one per tuple") {
    // the staging path must be a single distributed partitionBy write
    // + one bounds/values scan — a per-tuple job loop (P full-input
    // scans through coalesce(1) funnels) would show ≥16 jobs here
    val base = tmp()
    val df = spark.range(160).select(col("id"),
      (col("id") % 16).cast("int").as("bucket"))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IcebergInterop.overwrite(df, base, partitionBy = Seq("bucket"))
      // listener events are async — give the bus a beat to drain
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs <= 6, s"partitioned commit launched $jobs jobs — " +
      "staging degenerated to a per-partition loop")
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.files.length == 16) // one file per tuple
    assert(snap.files.map(_.partitionValues("bucket")).sorted ==
      (0 until 16).map(_.toString).sorted)
    assert(IcebergInterop.read(spark, base).count() == 160)
  }

  test("predicates on an Iceberg read reach the parquet scan (pushdown intact)") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(100).toDF("id"), base)
    val plan = IcebergInterop.read(spark, base)
      .filter(col("id") > 50).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(id,50)"),
      s"filter did not reach the scan:\n$plan")
  }

  test("deleted-status manifest entries are excluded") {
    // overwrite writes a fresh manifest list; simulate Iceberg's expire
    // path instead: hand-add a status=2 entry and confirm it is skipped
    val base = tmp()
    IcebergInterop.overwrite(spark.range(5).toDF("id"), base)
    val metaDir = new File(base, "metadata")
    val manifest = metaDir.listFiles()
      .filter(f => f.getName.startsWith("manifest-") && f.getName.endsWith(".avro")).head
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val r = DataFileReader.openReader(manifest, new GenericDatumReader[GenericRecord]())
    val sch = r.getSchema
    val rows = new scala.collection.mutable.ArrayBuffer[GenericRecord]
    while (r.hasNext) rows += r.next()
    r.close()
    rows.foreach(_.put("status", 2)) // mark every file deleted
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, manifest); rows.foreach(w.append); w.close()
    assert(IcebergInterop.read(spark, base).count() == 0)
  }
}
