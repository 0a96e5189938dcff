package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import graft.sources.{DeletionVectors, IcebergInterop, Puffin}

/** Iceberg format-version 3: deletion vectors in puffin files (table
  * spec v3 §Deletion Vectors + the puffin spec). The DV blob framing is
  * byte-identical to Delta's (PROTOCOL.md §Deletion Vector Format) —
  * pinned below — which is what lets CONVERT carry merge-on-read state
  * verbatim between the formats. */
class IcebergV3Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("iceberg_v3_").toFile
    d.deleteOnExit(); d.getPath
  }

  private def meta(base: String): com.fasterxml.jackson.databind.JsonNode = {
    val v = Files.readString(
      new File(base, "metadata/version-hint.text").toPath).trim
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(new File(base, s"metadata/v$v.metadata.json"))
  }

  test("puffin codec: footer round-trips blob locations; CRC + magic validate") {
    val dvs = Seq("data/a.parquet" -> Seq(0L, 3L, 70000L),
      "data/b.parquet" -> (0L until 5000L).filter(_ % 3 == 0))
    val (bytes, locs) = Puffin.dvFileBytes(dvs, snapshotId = 7L,
      sequenceNumber = 7L)
    assert(bytes.startsWith(Puffin.Magic) && bytes.endsWith(Puffin.Magic))
    // footer metadata matches the returned locations exactly
    val footer = Puffin.blobs(bytes)
    assert(footer.map(f => (f._1, f._2, f._3)) ==
      locs.map(l => (Puffin.DvBlobType, l.offset, l.length)))
    assert(footer.map(_._4("referenced-data-file")) ==
      dvs.map(_._1))
    assert(footer.map(_._4("cardinality").toLong) ==
      dvs.map(_._2.distinct.size.toLong))
    // each blob decodes back to its positions through the manifest path
    locs.zip(dvs).foreach { case (l, (_, ps)) =>
      assert(Puffin.readDvBlob(bytes, l.offset, l.length, "t").toSeq ==
        ps.distinct.sorted)
    }
    // a flipped byte in the bitmap fails the CRC loudly
    val corrupt = bytes.clone()
    corrupt(locs.head.offset.toInt + 9) =
      (corrupt(locs.head.offset.toInt + 9) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] {
      Puffin.readDvBlob(corrupt, locs.head.offset, locs.head.length, "t")
    }
    assert(e.getMessage.contains("checksum"))
  }

  test("v3 DV blob bytes are BIT-IDENTICAL to a Delta deletion-vector blob") {
    val positions = Seq(1L, 5L, 9L, 100000L)
    // Delta .bin layout: version byte, then [len BE][magic+bitmap][crc BE]
    val (deltaBin, off) = DeletionVectors.dvFileBytes(positions)
    val deltaBlob = deltaBin.slice(off, deltaBin.length) // strip version byte
    assert(Puffin.dvBlobBytes(positions).toSeq == deltaBlob.toSeq,
      "the v3 spec adopted Delta's framing — the blobs must match byte for byte")
    // and the Delta reader decodes the puffin blob (offset 0: no version byte)
    val (puffinBytes, locs) =
      Puffin.dvFileBytes(Seq("f" -> positions), 1L, 1L)
    val blob = puffinBytes.slice(locs.head.offset.toInt,
      (locs.head.offset + locs.head.length).toInt)
    assert(DeletionVectors.readDvBlob(1.toByte +: blob, 1, "t").toSeq ==
      positions.sorted)
  }

  test("v3 table: DELETE writes a deletion vector; reads subtract it") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(100).toDF("id").coalesce(2), base,
      formatVersion = 3)
    assert(meta(base).get("format-version").asInt() == 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") % 10 === 0)
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.formatVersion == 3)
    assert(snap.deletes.nonEmpty && snap.deletes.forall(_.dv),
      s"expected deletion vectors, got ${snap.deletes}")
    assert(snap.deletes.forall(_.path.endsWith(".puffin")))
    val got = IcebergInterop.read(spark, base).as[Long].collect().toSet
    assert(got == (0L until 100L).filterNot(_ % 10 == 0).toSet)
    // time travel to the pre-delete snapshot still sees every row
    val first = IcebergInterop.snapshotIds(base).head
    assert(IcebergInterop.read(spark, base, Some(first)).count() == 100)
  }

  test("second DV delete on the same file MERGES: one vector per file, old ∪ new") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(50).toDF("id").coalesce(1), base,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 5)
    IcebergInterop.deletePositionsWhere(spark, base,
      col("id") >= 40 && col("id") < 45)
    val snap = IcebergInterop.snapshot(spark, base)
    // at most one DV per data file (spec v3): the second delete REPLACED
    // the first file's vector instead of stacking a second one
    val byRef = snap.deletes.filter(_.dv).groupBy(_.referencedDataFile.get)
    assert(byRef.values.forall(_.size == 1),
      s"multiple DVs for one file: ${snap.deletes}")
    assert(snap.deletes.map(_.recordCount).sum == 10,
      "the merged vector must carry old ∪ new cardinality")
    val got = IcebergInterop.read(spark, base).as[Long].collect().toSet
    assert(got == (5L until 40L).toSet ++ (45L until 50L).toSet)
  }

  test("v2 → v3 upgrade: old position deletes apply; first v3 delete folds them") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(30).toDF("id").coalesce(1), base) // v2
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 3)
    IcebergInterop.upgradeFormatVersion(base, 3)
    // the v2-era parquet position deletes still subtract
    assert(IcebergInterop.read(spark, base).count() == 27)
    // the first v3 delete folds them into the new vector (supersedes)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") >= 28)
    val snap = IcebergInterop.snapshot(spark, base)
    val dv = snap.deletes.filter(_.dv)
    assert(dv.size == 1 && dv.head.recordCount == 5,
      s"vector must fold the 3 legacy + 2 new positions, got $dv")
    val got = IcebergInterop.read(spark, base).as[Long].collect().toSet
    assert(got == (3L until 28L).toSet)
    // downgrade refuses
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.upgradeFormatVersion(base, 2)
    }
    assert(e.getMessage.contains("downgrade"))
  }

  test("position-delete FILES refuse on v3 (the spec forbids new ones)") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base,
      formatVersion = 3)
    val raw = IcebergInterop.snapshot(spark, base).files.head.rawPath
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.addPositionDeletes(spark, base, Seq(raw -> Seq(0L)))
    }
    assert(e.getMessage.contains("v2"))
  }

  test("v3 rewrite folds the vector; maintenance drops the superseded DV entry") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(40).toDF("id")
      .repartition(2), base, formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") % 4 === 1)
    IcebergInterop.rewriteDataFiles(spark, base)
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.deletes.isEmpty,
      s"rewrite must fold + drop the vector, got ${snap.deletes}")
    assert(IcebergInterop.read(spark, base).count() == 30)
    assert(IcebergInterop.read(spark, base).agg(sum("id")).head().getLong(0) ==
      (0L until 40L).filterNot(_ % 4 == 1).sum)
  }

  test("v3 UPDATE (copy-on-write) over a DV table keeps the masked rows dead") {
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 20L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1), base,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("k") < 4)
    IcebergInterop.updateWhere(spark, base, col("k") >= 18,
      Map("v" -> (col("v") + 100.0)))
    val got = IcebergInterop.read(spark, base)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == (4L until 20L).toSet)
    assert(got(18L) == 118.0 && got(19L) == 119.0 && got(4L) == 4.0)
  }

  test("v3 changelog: DV commits emit exactly the newly-masked rows") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(20).toDF("id").coalesce(1), base,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 3)  // DV 1
    IcebergInterop.deletePositionsWhere(spark, base, col("id") >= 18) // DV 2 (merged)
    val ids = IcebergInterop.snapshotIds(base)
    val chg = IcebergInterop.readChangelog(spark, base, ids.head)
      .select(col("id"), col("_change_type"), col("_snapshot_id"))
      .as[(Long, String, Long)].collect().toSet
    // the second vector is old ∪ new — only the NEW positions re-emit
    assert(chg == Set(
      (0L, "delete", ids(1)), (1L, "delete", ids(1)), (2L, "delete", ids(1)),
      (18L, "delete", ids(2)), (19L, "delete", ids(2))), s"got $chg")
  }

  test("v3 changelog across the upgrade: the vector folding v2 position deletes re-emits nothing") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(20).toDF("id").coalesce(1), base) // v2
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 3) // parquet
    IcebergInterop.upgradeFormatVersion(base, 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") >= 18) // folds
    IcebergInterop.deletePositionsWhere(spark, base, col("id") === 10) // merges
    val ids = IcebergInterop.snapshotIds(base)
    val chg = IcebergInterop.readChangelog(spark, base, ids.head)
      .select(col("id"), col("_change_type"), col("_snapshot_id"))
      .as[(Long, String, Long)].collect().toSet
    val Seq(posDel, fold, merge) = ids.takeRight(3)
    assert(chg == Set(
      (0L, "delete", posDel), (1L, "delete", posDel), (2L, "delete", posDel),
      (18L, "delete", fold), (19L, "delete", fold),
      (10L, "delete", merge)), s"got $chg")
  }

  test("v3 changelog refuses a DV whose record_count disagrees with its bitmap") {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val base = tmp()
    IcebergInterop.overwrite(spark.range(8).toDF("id").coalesce(1), base,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 3)
    // the manifest entry claims 2 deleted rows; the vector decodes 3
    val delMan = new File(base, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-del-") &&
        f.getName.endsWith(".avro"))
      .maxBy(_.lastModified())
    val rdr = new DataFileReader[GenericRecord](delMan,
      new GenericDatumReader[GenericRecord]())
    val sch = rdr.getSchema
    val recs = rdr.iterator().asScala.toList
    rdr.close()
    recs.foreach(r => r.get("data_file").asInstanceOf[GenericRecord]
      .put("record_count", 2L))
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, delMan)
    recs.foreach(w.append)
    w.close()
    val ids = IcebergInterop.snapshotIds(base)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.readChangelog(spark, base, ids.head, Some(ids.last))
        .collect()
    }
    assert(e.getMessage.contains("corrupt DV (refusing)"), e.getMessage)
  }

  test("CONVERT Delta→Iceberg v3 carries the DV blob BYTE-VERBATIM") {
    import graft.sources.{DeltaDml, DeltaInterop}
    val src = tmp() + "/delta"; val dst = tmp() + "/ice3"
    DeltaInterop.overwrite(
      (0L until 30L).map(i => (i, i * 2.0)).toDF("k", "v").coalesce(1), src)
    DeltaDml.deleteVectoredWhere(spark, src, col("k") % 5 === 2)
    IcebergInterop.convertFromDelta(spark, src, dst, formatVersion = 3)
    val snap = IcebergInterop.snapshot(spark, dst)
    assert(snap.formatVersion == 3)
    assert(snap.deletes.size == 1 && snap.deletes.head.dv)
    // value-exact across the convert
    val got = IcebergInterop.read(spark, dst).as[(Long, Double)]
      .collect().toSet
    assert(got == (0L until 30L).filterNot(_ % 5 == 2)
      .map(i => (i, i * 2.0)).toSet)
    // the puffin blob equals the Delta .bin frame byte for byte
    val d = snap.deletes.head
    val puffinBlob = java.nio.file.Files.readAllBytes(
      new File(d.path).toPath).slice(d.contentOffset.get.toInt,
      (d.contentOffset.get + d.contentSize.get).toInt)
    val deltaDv = DeltaInterop.snapshot(spark, src).files.head.dv.get
    val bin = new File(src).listFiles()
      .find(_.getName.startsWith("deletion_vector_")).get
    val binBytes = java.nio.file.Files.readAllBytes(bin.toPath)
    val deltaBlob = binBytes.slice(deltaDv.offset.getOrElse(1),
      deltaDv.offset.getOrElse(1) + 4 + deltaDv.sizeInBytes + 4)
    assert(puffinBlob.toSeq == deltaBlob.toSeq,
      "convert must carry the vector verbatim, not re-encode it")
    // and no data file was rewritten (zero copy)
    assert(snap.files.forall(_.path.startsWith(
      graft.sources.PathCodec.absNorm(src))))
  }

  test("CONVERT Iceberg v3→Delta carries the vector back verbatim") {
    import graft.sources.DeltaInterop
    val src = tmp() + "/ice3"; val dst = tmp() + "/delta"
    IcebergInterop.overwrite(spark.range(25).toDF("id").coalesce(1), src,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, src, col("id") >= 20)
    DeltaInterop.convertFromIceberg(spark, src, dst)
    val got = DeltaInterop.read(spark, dst).as[Long].collect().toSet
    assert(got == (0L until 20L).toSet)
    // the .bin frame equals the puffin blob byte for byte
    val d = IcebergInterop.snapshot(spark, src).deletes.head
    val puffinBlob = java.nio.file.Files.readAllBytes(
      new File(d.path).toPath).slice(d.contentOffset.get.toInt,
      (d.contentOffset.get + d.contentSize.get).toInt)
    val dv = DeltaInterop.snapshot(spark, dst).files.head.dv.get
    val bin = new File(dst).listFiles()
      .find(_.getName.startsWith("deletion_vector_")).get
    val binBytes = java.nio.file.Files.readAllBytes(bin.toPath)
    assert(binBytes.drop(1).toSeq == puffinBlob.toSeq &&
      dv.cardinality == 5)
    // the converted Delta table's own DML composes on the carried DV
    graft.sources.DeltaDml.deleteVectoredWhere(spark, dst, col("id") < 2)
    assert(DeltaInterop.read(spark, dst).as[Long].collect().toSet ==
      (2L until 20L).toSet)
  }

  test("SQL: CONVERT TO ICEBERG3, format-version upgrade, DV DELETE statement") {
    import graft.pipeline.GraftSql
    import graft.sources.{DeltaDml, DeltaInterop}
    val src = tmp() + "/delta"; val dst = tmp() + "/ice3"
    DeltaInterop.overwrite(
      (0L until 40L).map(i => (i, s"r$i")).toDF("k", "s").coalesce(1), src)
    DeltaDml.deleteVectoredWhere(spark, src, col("k") === 39L)
    GraftSql.registerDeltaTable(spark, "v3src", src)
    GraftSql.sql(spark,
      s"CONVERT v3src TO ICEBERG3 AS v3dst LOCATION '$dst'")
    assert(meta(dst).get("format-version").asInt() == 3)
    // a DELETE STATEMENT on the registered v3 table writes a vector
    GraftSql.sql(spark, "DELETE FROM v3dst WHERE k < 4")
    val snap = IcebergInterop.snapshot(spark, dst)
    assert(snap.formatVersion == 3 && snap.deletes.forall(_.dv))
    assert(spark.sql("SELECT count(*) FROM v3dst").head().getLong(0) == 35)
    // and the in-place upgrade statement on a v2 table
    val v2 = tmp() + "/ice2"
    IcebergInterop.overwrite(spark.range(8).toDF("id").coalesce(1), v2)
    GraftSql.registerIcebergTable(spark, "v3up", v2)
    GraftSql.sql(spark,
      "ALTER TABLE v3up SET TBLPROPERTIES ('format-version'='3')")
    GraftSql.sql(spark, "DELETE FROM v3up WHERE id = 0")
    val up = IcebergInterop.snapshot(spark, v2)
    assert(up.formatVersion == 3 && up.deletes.forall(_.dv))
    assert(spark.sql("SELECT count(*) FROM v3up").head().getLong(0) == 7)
  }

  test("v3 DV delete racing a disjoint append rebases — both land") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base,
      formatVersion = 3)
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prior = graft.sources.TableIO.current
    graft.sources.TableIO.current = new RaceProxy(() =>
      IcebergInterop.append(spark.range(100, 105).toDF("id").coalesce(1),
        base))
    try IcebergInterop.deletePositionsWhere(spark, base, col("id") < 4)
    finally graft.sources.TableIO.current = prior
    val got = IcebergInterop.read(spark, base)
    assert(got.count() == 11)
    assert(got.agg(sum("id")).head().getLong(0) ==
      (4L until 10L).sum + (100L until 105L).sum)
    val snap = IcebergInterop.snapshot(spark, base)
    assert(snap.deletes.forall(_.dv))
    // the rebase RESTAGES the puffin footer and manifest entry: both
    // must name the id that actually PUBLISHED (an external validator
    // of the footer would otherwise see a snapshot that never
    // committed)
    val publishedId = meta(base).get("current-snapshot-id").asLong()
    val dv = snap.deletes.find(_.dv).get
    val bytes = Files.readAllBytes(new File(dv.path).toPath)
    val payloadSize = java.nio.ByteBuffer
      .wrap(bytes, bytes.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val payload = new String(bytes, bytes.length - 12 - payloadSize,
      payloadSize, java.nio.charset.StandardCharsets.UTF_8)
    val footer = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(payload)
    val footerSnapIds = (0 until footer.get("blobs").size())
      .map(i => footer.get("blobs").get(i).get("snapshot-id").asLong()).toSet
    assert(footerSnapIds == Set(publishedId),
      s"puffin footer names $footerSnapIds, published $publishedId")
    // the staged manifest's entry snapshot_id matches too
    import scala.jdk.CollectionConverters._
    val delMan = new File(base, "metadata").listFiles()
      .filter(f => f.getName.startsWith("manifest-del-") &&
        f.getName.endsWith(".avro")).maxBy(_.lastModified())
    val rdr2 = new org.apache.avro.file.DataFileReader[
        org.apache.avro.generic.GenericRecord](delMan,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val entryIds = rdr2.iterator().asScala
      .map(_.get("snapshot_id").toString.toLong).toSet
    rdr2.close()
    assert(entryIds == Set(publishedId),
      s"manifest entries name $entryIds, published $publishedId")
  }

  test("v3 DV delete racing a DV rewrite of the same file refuses") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base,
      formatVersion = 3)
    val prior = graft.sources.TableIO.current
    graft.sources.TableIO.current = new RaceProxy(() =>
      IcebergInterop.deletePositionsWhere(spark, base, col("id") === 9L))
    val e = intercept[java.util.ConcurrentModificationException] {
      try IcebergInterop.deletePositionsWhere(spark, base, col("id") < 4)
      finally graft.sources.TableIO.current = prior
    }
    assert(e.getMessage.contains("deletion vector") ||
      e.getMessage.contains("vector"))
    // the winner's delete is intact
    assert(IcebergInterop.read(spark, base).count() == 9)
  }

  // ------------------------------------------------------ row lineage

  private def lineage(base: String): Map[Long, (Long, Long)] =
    IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol, IcebergInterop.LastUpdatedSeqCol)
      .as[(Long, Long, Long)].collect()
      .map { case (k, rid, seq) => k -> ((rid, seq)) }.toMap

  test("row lineage: creation assigns 0..n-1; appends continue; ids unique") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(10).toDF("id").coalesce(1), base,
      formatVersion = 3)
    assert(meta(base).get("next-row-id").asLong() == 10L)
    val l0 = lineage(base)
    assert(l0.values.map(_._1).toSeq.sorted == (0L until 10L),
      s"creation ids must be 0..9, got $l0")
    IcebergInterop.append(spark.range(100, 105).toDF("id").coalesce(1), base)
    assert(meta(base).get("next-row-id").asLong() == 15L)
    val l1 = lineage(base)
    assert(l1.values.map(_._1).toSeq.sorted == (0L until 15L),
      "append must continue the id space without overlap")
    // ids of the original rows did not move
    l0.foreach { case (k, (rid, _)) => assert(l1(k)._1 == rid) }
  }

  test("row lineage: DV delete keeps surviving ids; update preserves + bumps seq") {
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 20L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1), base,
      formatVersion = 3)
    val before = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 5)
    val afterDel = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    assert(afterDel.keySet == (5L until 20L).toSet)
    afterDel.foreach { case (k, rid) => assert(rid == before(k),
      s"DV delete moved the id of row $k") }
    val preSeq = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.LastUpdatedSeqCol)
      .as[(Long, Long)].collect().toMap
    IcebergInterop.updateWhere(spark, base, col("id") >= 18,
      Map("v" -> (col("v") + 100.0)))
    val after = IcebergInterop.readWithRowIds(spark, base)
      .select(col("id"), col(IcebergInterop.RowIdCol),
        col(IcebergInterop.LastUpdatedSeqCol), col("v"))
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(after.keySet == (5L until 20L).toSet)
    after.foreach { case (k, (rid, _, _)) => assert(rid == before(k),
      s"copy-on-write update moved the id of row $k") }
    // updated rows moved to the update's sequence; survivors kept theirs
    assert(after(18L)._2 > preSeq(18L) && after(19L)._2 > preSeq(19L))
    assert(after(10L)._2 == preSeq(10L))
    assert(after(18L)._3 == 118.0 && after(10L)._3 == 10.0)
  }

  test("row lineage: compaction is id-invariant (materialized through the rewrite)") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(30).toDF("id").repartition(3), base,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") % 5 === 0)
    val before = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    assert(before.values.toSeq.distinct.size == before.size, "ids unique")
    IcebergInterop.rewriteDataFiles(spark, base)
    assert(IcebergInterop.snapshot(spark, base).deletes.isEmpty)
    val after = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    assert(after == before,
      s"compaction moved row ids: ${(after.toSet -- before.toSet).take(5)}")
  }

  test("row lineage: v2 → v3 upgrade reads NULL ids until rewritten; new writes get ids") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(8).toDF("id").coalesce(1), base) // v2
    IcebergInterop.upgradeFormatVersion(base, 3)
    assert(meta(base).get("next-row-id").asLong() == 0L)
    IcebergInterop.append(spark.range(100, 103).toDF("id").coalesce(1), base)
    val got = IcebergInterop.readWithRowIds(spark, base)
      .select(col("id"), col(IcebergInterop.RowIdCol))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // pre-upgrade rows: NULL (the spec's lazy contract); new rows: 0..2
    (0L until 8L).foreach(k => assert(got(k).isEmpty,
      s"pre-upgrade row $k must read NULL _row_id"))
    assert((100L until 103L).flatMap(k => got(k)).sorted == (0L until 3L))
    // a sorted rewrite materializes fresh ids for the legacy rows
    IcebergInterop.rewriteDataFilesSorted(spark, base, Seq("id"),
      filesPerPartition = 1)
    val after = lineage(base)
    assert(after.values.map(_._1).toSeq.distinct.size == 11,
      s"post-rewrite ids must be unique and non-null: $after")
    // new-row ids survived the rewrite (they were real before it)
    assert((100L until 103L).map(k => after(k)._1).sorted == (0L until 3L))
  }

  test("row lineage: partial-touch update stamps the filtered carry explicitly") {
    // three files in ONE manifest; the update touches one, so the carry
    // rewrites a FILTERED manifest — dropping an entry shifts the
    // inheritance offsets unless the kept entries' ids are stamped
    // explicitly (the exact bug the stamping prevents)
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 30L).map(i => (i, i * 1.0)).toDF("id", "v")
        .repartitionByRange(3, col("id")), base, formatVersion = 3)
    val before = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    assert(before.values.toSeq.distinct.size == 30)
    // touch exactly the range holding id 0 (one file of the three)
    IcebergInterop.updateWhere(spark, base, col("id") === 0L,
      Map("v" -> lit(999.0)))
    val after = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    assert(after == before,
      s"surviving files' ids shifted after the filtered carry: " +
      s"${after.toSet.diff(before.toSet).toSeq.sortBy(_._1).take(6)}")
  }

  test("row lineage: merge mints fresh ids for upserts, keeps untouched rows") {
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1), base,
      formatVersion = 3)
    val before = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    IcebergInterop.mergeUpsert(spark, base,
      Seq((3L, -3.0), (50L, -50.0)).toDF("id", "v").coalesce(1), Seq("id"))
    val after = IcebergInterop.readWithRowIds(spark, base)
      .select("id", IcebergInterop.RowIdCol).as[(Long, Long)].collect().toMap
    assert(after.keySet == (0L until 10L).toSet + 50L)
    // untouched rows keep their ids; the equality-delete upsert mints
    // fresh ones for BOTH the updated key and the insert (the
    // merge-on-read trade-off: the old row retires, a new row lands)
    ((0L until 10L).toSet - 3L).foreach(k => assert(after(k) == before(k)))
    assert(after(3L) != before(3L) && after(3L) >= 10L && after(50L) >= 10L)
    assert(after.values.toSeq.distinct.size == after.size, "ids stay unique")
  }

  test("maintenance never reclaims a live vector; expired DVs go with their snapshots") {
    val base = tmp()
    IcebergInterop.withClock(IcebergInterop.tickingClock(1000L, 1000L)) {
      IcebergInterop.overwrite(spark.range(20).toDF("id").coalesce(1), base,
        formatVersion = 3)
      IcebergInterop.deletePositionsWhere(spark, base, col("id") < 3)  // DV 1
      IcebergInterop.deletePositionsWhere(spark, base, col("id") < 6)  // DV 2 (supersedes)
    }
    val livePuffin = IcebergInterop.snapshot(spark, base).deletes.map(_.path)
    // orphan sweep with an ALL-files cutoff: the live vector must survive,
    // the superseded one (unreferenced by ANY snapshot? no — still in
    // snapshot 2's manifests) stays too until its snapshots expire
    val orphans = IcebergInterop.removeOrphanFiles(spark, base,
      olderThanMs = Some(Long.MaxValue), dryRun = true)
    livePuffin.foreach(p => assert(!orphans.exists(p.endsWith),
      s"orphan sweep would reclaim the LIVE vector $p"))
    // expire everything but the head: the superseded DV 1 becomes
    // unreachable and is physically reclaimed; the live one survives
    val head = IcebergInterop.snapshotIds(base).last
    IcebergInterop.expireSnapshots(spark, base, retainLast = 1)
    assert(IcebergInterop.read(spark, base).count() == 14)
    val remaining = new File(base, "data").listFiles()
      .filter(_.getName.endsWith(".puffin")).map(_.getName).toSet
    assert(livePuffin.map(_.split("/").last).toSet == remaining,
      s"expected only the live vector to remain, got $remaining")
    assert(IcebergInterop.snapshotIds(base) == Seq(head))
  }

  // --------------------------------------------------- default values

  test("default values: old files fill, real NULLs survive, write-default applies") {
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 6L).map(i => (i, s"u$i")).toDF("id", "name").coalesce(1),
      base, formatVersion = 3)
    IcebergInterop.addColumn(base, "score", DoubleType, default = Some(1.5))
    // pre-add rows read the initial-default, not NULL
    val l0 = IcebergInterop.read(spark, base)
      .select("id", "score").as[(Long, Double)].collect().toMap
    assert(l0 == (0L until 6L).map(_ -> 1.5).toMap, s"got $l0")
    // an append CARRYING the column keeps real values AND real NULLs
    IcebergInterop.append(
      Seq((10L, "x", java.lang.Double.valueOf(9.0)),
        (11L, "y", null.asInstanceOf[java.lang.Double]))
        .toDF("id", "name", "score").coalesce(1), base)
    val l1 = IcebergInterop.read(spark, base)
      .select(col("id"), col("score")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(l1(10L) == Some(9.0))
    assert(l1(11L).isEmpty, "a REAL NULL written after the add must stay NULL")
    assert(l1(0L) == Some(1.5))
    // an append OMITTING the column materializes the write-default
    IcebergInterop.append(
      Seq((20L, "z")).toDF("id", "name").coalesce(1), base)
    val l2 = IcebergInterop.read(spark, base)
      .filter(col("id") === 20L).select("score").head()
    assert(l2.getDouble(0) == 1.5)
    // compaction materializes the fill; values unchanged after
    IcebergInterop.rewriteDataFilesSorted(spark, base, Seq("id"),
      filesPerPartition = 1)
    val l3 = IcebergInterop.read(spark, base)
      .select(col("id"), col("score")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(l3 == l1 + (20L -> Some(1.5)), s"rewrite changed values: $l3")
  }

  test("default values: expired adding snapshot falls back to the file footer") {
    val base = tmp()
    IcebergInterop.withClock(IcebergInterop.tickingClock(1000L, 1000L)) {
      IcebergInterop.overwrite(spark.range(4).toDF("id").coalesce(1), base,
        formatVersion = 3)
      IcebergInterop.append(spark.range(10, 12).toDF("id").coalesce(1), base)
    }
    IcebergInterop.addColumn(base, "tag", StringType, default = Some("old"))
    // expire the first snapshot: its files stay live (carried) but the
    // snapshot-id → schema lookup is gone — presence must resolve from
    // the footer instead of misfiring either way
    IcebergInterop.expireSnapshots(spark, base, retainLast = 1)
    val got = IcebergInterop.read(spark, base)
      .select("id", "tag").as[(Long, String)].collect().toMap
    assert(got.values.toSet == Set("old"), s"got $got")
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 10L, 11L))
  }

  test("default values: SQL ADD COLUMNS DEFAULT on v3; v2 and name-mapped refuse") {
    import graft.pipeline.GraftSql
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 5L).map(i => (i, i * 2.0)).toDF("id", "v").coalesce(1), base,
      formatVersion = 3)
    GraftSql.registerIcebergTable(spark, "v3def", base)
    GraftSql.sql(spark,
      "ALTER TABLE v3def ADD COLUMNS (bonus DOUBLE DEFAULT 1.0 + 1.5)")
    assert(spark.sql("SELECT sum(bonus) FROM v3def").head().getDouble(0) == 12.5)
    // v2 refuses with the upgrade hint
    val v2 = tmp()
    IcebergInterop.overwrite(spark.range(3).toDF("id").coalesce(1), v2)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.addColumn(v2, "x", IntegerType, default = Some(1))
    }
    assert(e.getMessage.contains("format-v3"))
  }

  test("append to a not-yet-existing base still CREATES the table") {
    val base = tmp() + "/fresh"
    IcebergInterop.append(spark.range(5).toDF("id").coalesce(1), base)
    assert(IcebergInterop.read(spark, base).count() == 5)
  }

  test("default fill refuses unknown incoming columns (no silent discard)") {
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 3L).map(i => (i, s"u$i")).toDF("id", "name").coalesce(1),
      base, formatVersion = 3)
    IcebergInterop.addColumn(base, "bonus", DoubleType, default = Some(2.0))
    // a misspelled defaulted column must refuse loudly, not be dropped
    // and replaced by the default
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.append(
        Seq((9L, "x", 7.0)).toDF("id", "name", "bonus_").coalesce(1), base)
    }
    assert(e.getMessage.contains("bonus_"), e.getMessage)
    assert(IcebergInterop.read(spark, base).count() == 3)
  }

  test("default values: post-add file PHYSICALLY omitting the column " +
       "reads initial-default (footer is ground truth)") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(3).toDF("id").coalesce(1), base,
      formatVersion = 3)
    IcebergInterop.addColumn(base, "tag", StringType, default = Some("old"))
    IcebergInterop.append(
      Seq((10L, "new10"), (11L, "new11")).toDF("id", "tag").coalesce(1), base)
    // simulate an EXTERNAL writer: the adding-snapshot schema had the
    // field, but the file on disk physically omits the optional column.
    // Iceberg's reference readers key on field-id absence in the file
    // → initial-default, not NULL.
    val post = IcebergInterop.snapshot(spark, base).files
      .filter(f => spark.read.parquet(f.path).columns.contains("tag"))
    assert(post.nonEmpty)
    post.foreach { f =>
      val stripped = spark.read.parquet(f.path).drop("tag")
      val outDir = Files.createTempDirectory("strip_").toFile.getPath
      stripped.coalesce(1).write.mode("overwrite").parquet(outDir)
      val part = new File(outDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, new File(f.path).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val got = IcebergInterop.read(spark, base)
      .select("id", "tag").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "old", 1L -> "old", 2L -> "old",
      10L -> "old", 11L -> "old"), s"got $got")
  }

  test("CONVERT v3→Delta refuses a DV entry missing content_size_in_bytes") {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val base = tmp()
    IcebergInterop.overwrite(spark.range(8).toDF("id").coalesce(1), base,
      formatVersion = 3)
    IcebergInterop.deletePositionsWhere(spark, base, col("id") < 3)
    // strip content_size_in_bytes from the DV manifest entry — a
    // spec-invalid table; the carry must refuse rather than slice the
    // puffin FILE length (footer bytes) into the Delta blob
    val metaDir = new File(base, "metadata")
    val delMan = metaDir.listFiles()
      .filter(f => f.getName.startsWith("manifest-del-") &&
        f.getName.endsWith(".avro"))
      .maxBy(_.lastModified())
    val rdr = new DataFileReader[GenericRecord](delMan,
      new GenericDatumReader[GenericRecord]())
    val sch = rdr.getSchema
    val recs = rdr.iterator().asScala.toList
    rdr.close()
    recs.foreach { r =>
      val dfr = r.get("data_file").asInstanceOf[GenericRecord]
      if (dfr.get("content_size_in_bytes") != null)
        dfr.put("content_size_in_bytes", null)
    }
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, delMan)
    recs.foreach(w.append)
    w.close()
    val dst = tmp() + "/delta"
    val e = intercept[IllegalStateException] {
      graft.sources.DeltaInterop.convertFromIceberg(spark, base, dst)
    }
    assert(e.getMessage.contains("content_size_in_bytes"), e.getMessage)
  }

  /** Rewrite the current metadata JSON's schema, appending a raw
    * field node (simulating a foreign v3 writer using types this
    * engine may not implement). */
  private def addForeignField(base: String, fieldJson: String): Unit = {
    val v = Files.readString(
      new File(base, "metadata/version-hint.text").toPath).trim
    val p = new File(base, s"metadata/v$v.metadata.json").toPath
    val m = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val root = m.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val want = root.get("current-schema-id").asInt()
    val ss = root.get("schemas")
    (0 until ss.size()).map(ss.get)
      .find(_.get("schema-id").asInt() == want).get
      .get("fields").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .add(m.readTree(fieldJson))
    Files.writeString(p, m.writeValueAsString(root))
  }

  test("v3 types: 'unknown' columns read as all-NULL (tolerated)") {
    val base = tmp()
    IcebergInterop.overwrite(spark.range(4).toDF("id").coalesce(1), base,
      formatVersion = 3)
    addForeignField(base,
      """{"id":99,"name":"mystery","required":false,"type":"unknown"}""")
    val got = IcebergInterop.read(spark, base)
    assert(got.schema.fieldNames.toSeq == Seq("id", "mystery"))
    val rows = got.select("id", "mystery").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.isNullAt(1)), "unknown-typed column must be NULL")
    // required unknown is spec-invalid → loud refusal
    addForeignField(base,
      """{"id":100,"name":"m2","required":true,"type":"unknown"}""")
    val e = intercept[IllegalArgumentException](IcebergInterop.read(spark, base))
    assert(e.getMessage.contains("unknown"), e.getMessage)
  }

  test("v3 types: timestamp_ns / geometry refuse with guidance") {
    def freshWith(fieldJson: String): String = {
      val base = tmp()
      IcebergInterop.overwrite(spark.range(2).toDF("id").coalesce(1), base,
        formatVersion = 3)
      addForeignField(base, fieldJson)
      base
    }
    val e1 = intercept[IllegalArgumentException](IcebergInterop.read(spark,
      freshWith("""{"id":50,"name":"t","required":false,"type":"timestamp_ns"}""")))
    assert(e1.getMessage.contains("nanosecond") &&
      e1.getMessage.contains("microsecond"), e1.getMessage)
    val e3 = intercept[IllegalArgumentException](IcebergInterop.read(spark,
      freshWith("""{"id":52,"name":"g","required":false,"type":"geometry(srid:4326)"}""")))
    assert(e3.getMessage.contains("geometry") &&
      e3.getMessage.contains("binary"), e3.getMessage)
  }

  test("v3 variant: round-trips value-exact; v2 refuses; foreign add reads NULL") {
    import org.apache.spark.sql.functions.{col, parse_json, to_json}
    val base = tmp()
    val docs = Seq(
      (1L, """{"kind":"text","tokens":128,"tags":["a","b"]}"""),
      (2L, """{"kind":"image","w":640,"h":480,"nested":{"x":1.5}}"""),
      (3L, """[1,2,3,{"deep":true}]"""),
      (4L, """"just a string"""")).toDF("id", "js")
    val withVariant = docs.select(col("id"),
      parse_json(col("js")).as("meta")).coalesce(1)
    IcebergInterop.overwrite(withVariant, base, formatVersion = 3)
    // schema maps by the spec: variant ↔ VariantType
    val got = IcebergInterop.read(spark, base)
    assert(got.schema("meta").dataType ==
      org.apache.spark.sql.types.VariantType)
    // value-exact against the JSON oracle (to_json normalizes both)
    val expect = docs.select(col("id"),
        to_json(parse_json(col("js"))).as("j"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.select(col("id"), to_json(col("meta")).as("j"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == expect)
    // appends carry variants too; variant_get extracts typed fields
    IcebergInterop.append(Seq((5L, """{"kind":"audio","tokens":7}"""))
      .toDF("id", "js").select(col("id"),
        parse_json(col("js")).as("meta")).coalesce(1), base)
    val kinds = IcebergInterop.read(spark, base)
      .selectExpr("id", "variant_get(meta, '$.kind', 'string') AS kind")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(kinds(5L).contains("audio") && kinds(2L).contains("image"))
    // a v2 target refuses variant columns loudly
    val e = intercept[IllegalArgumentException](IcebergInterop.overwrite(
      withVariant, tmp(), formatVersion = 2))
    assert(e.getMessage.contains("format-version 3"), e.getMessage)
    // a variant column added by a FOREIGN writer (no data) reads NULL
    val base2 = tmp()
    IcebergInterop.overwrite(spark.range(3).toDF("id").coalesce(1), base2,
      formatVersion = 3)
    addForeignField(base2,
      """{"id":51,"name":"v","required":false,"type":"variant"}""")
    val rows = IcebergInterop.read(spark, base2).select("id", "v").collect()
    assert(rows.length == 3 && rows.forall(_.isNullAt(1)))
  }

  /** Same injection seam as IcebergOccSpec: the competing commit runs
    * inside the loser's metadata publish. */
  private final class RaceProxy(inject: () => Unit)
      extends graft.sources.TableIO {
    private val under = graft.sources.LocalTableIO
    @volatile private var injected = false
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
    def putIfAbsent(s: String, d: String) = {
      if (!injected && d.endsWith(".metadata.json")) {
        injected = true
        inject()
      }
      under.putIfAbsent(s, d)
    }
    def mirror(s: String, d: String) = under.mirror(s, d)
    def moveReplace(s: String, d: String) = under.moveReplace(s, d)
    def move(s: String, d: String) = under.move(s, d)
    def delete(p: String) = under.delete(p)
    def deleteRecursively(p: String) = under.deleteRecursively(p)
  }

  test("v3 equality deletes stay legal and compose with vectors") {
    val base = tmp()
    IcebergInterop.overwrite(
      (0L until 12L).map(i => (i, s"u$i")).toDF("k", "name").coalesce(1),
      base, formatVersion = 3)
    IcebergInterop.addEqualityDeletes(spark,
      base, Seq((3L, "ignored")).toDF("k", "name").select(col("k")), Seq("k"))
    IcebergInterop.deletePositionsWhere(spark, base, col("k") === 7L)
    val got = IcebergInterop.read(spark, base).select("k")
      .as[Long].collect().toSet
    assert(got == (0L until 12L).toSet -- Set(3L, 7L))
  }
}
