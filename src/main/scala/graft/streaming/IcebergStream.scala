package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{IcebergInterop, StagedFiles, TableIO}

/** Streaming SOURCE over an Iceberg table — the third leg of the
  * streaming-source triangle (graft-log: `GraftLogStream`, Delta CDF:
  * `DeltaStream`), same public-API design: a snapshot-driven hard-link
  * mirror + Spark's checkpointed parquet file stream (exactly-once
  * across restarts from the file source's offset log).
  *
  * Per snapshot the mirror links the data files that are NEW relative
  * to the previous snapshot (manifest-list diff, driver metadata walk
  * only). Non-append snapshots follow the same contract as the other
  * mirrors via `onRewrite`:
  *  - "fail" (default): a snapshot that removed files or added DELETE
  *    files is an error — append-only streams must not silently skip
  *    retractions;
  *  - "ignore": skip the snapshot's additions entirely;
  *  - "reemit": link its added data files anyway (at-least-once
  *    re-emission of carried rows — Spark's ignoreChanges).
  * The FIRST snapshot is always streamed (load-then-tail). Tables with
  * live position/equality deletes at tail time are refused: a file
  * stream cannot subtract them (use the batch reader or
  * `readChangelog`). */
object IcebergStream {

  private val SyncMarker = "_iceberg_sync.json"
  private val ChangelogMarker = "_iceberg_changelog_sync.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def io: TableIO = TableIO()

  private def syncedSnapshot(feedDir: String,
                             marker: String = SyncMarker): Option[Long] = {
    val f = TableIO.join(feedDir, marker)
    if (!io.exists(f)) None
    else Some(mapper.readTree(io.readString(f))
      .get("syncedSnapshotId").asLong())
  }

  private def writeMarker(feedDir: String, marker: String, head: Long): Unit = {
    val tmp = TableIO.join(feedDir, s".tmp_sync_${java.util.UUID.randomUUID()}")
    io.writeString(tmp, s"""{"syncedSnapshotId":$head}""")
    io.moveReplace(tmp, TableIO.join(feedDir, marker))
  }

  private def requireNotExpired(base: String, feedDir: String,
                                from: Option[Long], ids: Seq[Long]): Unit =
    from.foreach { sid =>
      if (!ids.contains(sid)) throw new IllegalStateException(
        s"iceberg stream feed $feedDir last synced snapshot $sid, which " +
        s"has been expired from $base (have ${ids.mkString(",")}) — the " +
        "diff base is gone; restart the feed from a fresh directory (the " +
        "current table state will re-stream) or re-seed the mirror")
    }

  /** Advance the feed mirror to the current snapshot head. Idempotent
    * and crash-safe (EEXIST is success; the marker lands atomically
    * after all links). Returns the synced snapshot id (or -1 for an
    * empty table). */
  def syncFeed(spark: SparkSession, base: String, feedDir: String,
               onRewrite: String = "fail"): Long = {
    require(Set("fail", "ignore", "reemit").contains(onRewrite),
      s"onRewrite must be fail|ignore|reemit, got '$onRewrite'")
    io.mkdirs(feedDir)
    val ids = IcebergInterop.snapshotIds(base)
    if (ids.isEmpty) return -1L
    val from = syncedSnapshot(feedDir)
    // the last-synced snapshot MUST still be in the table: if it was
    // expired (expireSnapshots), dropWhile would consume the whole id
    // list, `fresh` would be empty, and the stream would silently stop
    // seeing new snapshots forever — silent data loss. Fail loudly.
    requireNotExpired(base, feedDir, from, ids)
    val fresh = from match {
      case None => ids
      case Some(sid) => ids.dropWhile(_ != sid).drop(1)
    }
    if (fresh.isEmpty) return from.getOrElse(-1L)
    // previous file set for the diff (None for the very first snapshot)
    var prevFiles: Set[String] = from match {
      case None => Set.empty
      case Some(sid) =>
        IcebergInterop.snapshot(spark, base, Some(sid)).files
          .map(_.rawPath).toSet
    }
    // delete files tracked by PATH SET, not count: a v3 deletion-vector
    // rewrite REPLACES the file's vector (new puffin path, same count),
    // which a size comparison would silently miss — and the skipped
    // retraction would never reach the stream
    var prevDeletes: Set[String] = from match {
      case None => Set.empty
      case Some(sid) =>
        val s = IcebergInterop.snapshot(spark, base, Some(sid))
        (s.deletes.map(_.path) ++ s.eqDeletes.map(_.path)).toSet
    }
    fresh.foreach { sid =>
      val snap = IcebergInterop.snapshot(spark, base, Some(sid))
      val paths = snap.files.map(f => f.rawPath -> f.path).toMap
      val added = paths.keySet -- prevFiles
      val removed = prevFiles -- paths.keySet
      val curDeletes =
        (snap.deletes.map(_.path) ++ snap.eqDeletes.map(_.path)).toSet
      val newDeletes = (curDeletes -- prevDeletes).nonEmpty
      val isRewrite = (removed.nonEmpty || newDeletes) && prevFiles.nonEmpty
      val link: Boolean =
        if (!isRewrite) true
        else onRewrite match {
          case "fail" => throw new IllegalStateException(
            s"iceberg stream over $base hit non-append snapshot $sid " +
            "(removed files or added delete files); pass " +
            "onRewrite=ignore|reemit or use readChangelog")
          case "ignore" => false
          case "reemit" => true
        }
      if (link) added.foreach { raw =>
        val src = paths(raw)
        val flat = s"s$sid-${src.split("/").last}"
        io.mirror(src, TableIO.join(feedDir, flat))
      }
      prevFiles = paths.keySet
      prevDeletes = curDeletes
    }
    val head = fresh.last
    writeMarker(feedDir, SyncMarker, head)
    head
  }

  /** Advance the CHANGELOG feed mirror to the current snapshot head:
    * each new snapshot's change rows — the `readChangelog` semantics
    * (inserts/deletes incl. delete-file masking; replace snapshots
    * emit nothing) — are MATERIALIZED once into the feed, multi-part:
    * roughly one parquet file per table file the snapshot touched.
    * Unlike the append tail's hard links, change rows are DERIVED data
    * with no on-disk file to link, so this pays one distributed write
    * per snapshot (bounded by the snapshot's own change volume) — and
    * critically it is NOT funneled through one task: the very first
    * sync streams the FIRST snapshot's whole live row set as `insert`
    * (load-then-tail), which on a large table must fan out across the
    * cluster, not coalesce(1) through a single writer.
    * Crash-safe and idempotent: the slice is HASH-repartitioned on all
    * its columns, so row→part assignment is a pure function of row
    * values — a crash-replay restages bit-equal part CONTENTS, each
    * part lands under a deterministic per-snapshot name via a
    * put-if-absent link (losers discard; survivors keep the first
    * attempt's bytes), and the marker moves atomically after all of
    * them. An expired sync base fails loudly.
    * Returns the synced snapshot id (−1 for an empty table). */
  def syncChangelogFeed(spark: SparkSession, base: String,
                        feedDir: String): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    io.mkdirs(feedDir)
    val ids = IcebergInterop.snapshotIds(base)
    if (ids.isEmpty) return -1L
    val from = syncedSnapshot(feedDir, ChangelogMarker)
    requireNotExpired(base, feedDir, from, ids)
    val fresh = from match {
      case None => ids
      case Some(sid) => ids.dropWhile(_ != sid).drop(1)
    }
    if (fresh.isEmpty) return from.getOrElse(-1L)
    fresh.foreach { sid =>
      // fast path: the marker for THIS snapshot's parts is part 0 —
      // if it exists the whole slice was already staged and linked
      // (parts link in DESCENDING index order, 0 last), so a crash
      // between p0 and the feed marker costs nothing on replay
      if (!io.exists(TableIO.join(feedDir, s"chg-$sid-p0.parquet"))) {
        val (slice, touched) =
          if (sid == ids.head) {
            val snap = IcebergInterop.snapshot(spark, base, Some(sid))
            (IcebergInterop.read(spark, base, Some(sid))
              .withColumn("_change_type", lit("insert"))
              .withColumn("_snapshot_id", lit(sid)),
              snap.files.size)
          } else {
            val prevId = ids(ids.indexOf(sid) - 1)
            val cur = IcebergInterop.snapshot(spark, base, Some(sid))
              .files.map(_.rawPath).toSet
            val prev = IcebergInterop.snapshot(spark, base, Some(prevId))
              .files.map(_.rawPath).toSet
            (IcebergInterop.readChangelog(spark, base, prevId, Some(sid)),
              ((cur diff prev).size + (prev diff cur).size))
          }
        // strip field metadata (parquet.field.id from the table
        // schema): the mirror is a plain by-NAME parquet feed — mixed
        // id-carrying/id-less columns would trip field-id resolution
        val plain = slice.select(slice.schema.fields.map(f =>
          col(f.name).as(f.name, org.apache.spark.sql.types.Metadata.empty)): _*)
        // part count ≈ table files touched by the snapshot (metadata
        // walk only) — bounds per-task volume by about one data file's
        // worth of change rows; hash-on-all-columns makes the
        // assignment deterministic for the crash-replay contract above
        val nParts = math.max(1, touched)
        val parts = plain.repartition(nParts, plain.columns.map(col): _*)
        val scratch = TableIO.join(feedDir,
          s".stage_${java.util.UUID.randomUUID()}")
        def mirror(p: StagedFiles.Part): Unit =
          io.mirror(p.path, TableIO.join(feedDir, s"chg-$sid-p${p.index}.parquet"))
        val staged = StagedFiles.publish(scratch)(parts.write.parquet(_))(mirror)
        // empty slices (replace snapshots emit nothing; empty parts
        // write no file) still need the p0 sentinel for the fast path
        if (staged.isEmpty)
          StagedFiles.publish(scratch)(plain.limit(0).coalesce(1).write
            .mode("overwrite").parquet(_))(mirror)
      }
    }
    val head = fresh.last
    writeMarker(feedDir, ChangelogMarker, head)
    head
  }

  /** The table's CHANGELOG as a streaming DataFrame — the third leg of
    * the streaming-CDC triangle (graft-log CDF stream, Delta
    * `tailChangeFeed`): one sync, then Spark's checkpointed parquet
    * file stream over the materialized change rows (schema = table
    * schema + `_change_type` + `_snapshot_id`). Re-call
    * `syncChangelogFeed` to surface snapshots landing while the stream
    * runs. */
  def tailChangelog(spark: SparkSession, base: String, feedDir: String,
                    options: Map[String, String] = Map.empty): DataFrame = {
    val snap = IcebergInterop.snapshot(spark, base)
    // metadata-free schema: the feed resolves by NAME (see the sync's
    // field-metadata strip)
    val withMeta = org.apache.spark.sql.types.StructType(
      snap.schema.fields.map(_.copy(
        metadata = org.apache.spark.sql.types.Metadata.empty)) ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_snapshot_id",
          org.apache.spark.sql.types.LongType)))
    syncChangelogFeed(spark, base, feedDir)
    spark.readStream.schema(withMeta).options(options).parquet(feedDir)
  }

  /** The table as a streaming DataFrame: one sync, then Spark's parquet
    * file stream over the mirror (schema pinned from the table, so
    * evolution-era files read missing columns as null). Re-call
    * `syncFeed` to surface snapshots landing while the stream runs. */
  def tail(spark: SparkSession, base: String, feedDir: String,
           onRewrite: String = "fail",
           options: Map[String, String] = Map.empty): DataFrame = {
    val snap = IcebergInterop.snapshot(spark, base)
    require(snap.deletes.isEmpty && snap.eqDeletes.isEmpty,
      "iceberg stream tail cannot subtract live delete files — compact " +
      "first, or use the batch read / readChangelog")
    // identity-partitioned tables stream fine: this writer keeps the
    // partition columns IN the data files (manifests only add pruning)
    syncFeed(spark, base, feedDir, onRewrite)
    spark.readStream.schema(snap.schema).options(options).parquet(feedDir)
  }
}
