package graft.sources

import java.util.UUID

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import DeltaInterop.{AddFile, DeltaSnapshot, DvDescriptor}

/** Row-level DML + Change Data Feed for the Delta interop layer.
  *
  * Reference scope: the reference pipeline rewrites whole tables
  * (`spark/jobs/silver_transformation.py:61-64` overwrites per layer);
  * row-level deletes/updates and CDC are the operations its users hit
  * the moment the lakehouse holds more data than a nightly rewrite can
  * afford. Everything here follows the PUBLIC Delta protocol
  * (PROTOCOL.md §Deletion Vectors, §Change Data Files, §Add CDC File).
  *
  * Scale shape (100 TB):
  *  - `deleteVectoredWhere` classifies rows EXECUTOR-side: one
  *    distributed scan finds matching (file, row_index) coordinates,
  *    one `mapPartitions` pass per touched FILE writes the RoaringBitmap
  *    .bin sidecars, and only per-file descriptors (metadata scale — a
  *    handful of bytes per touched file) ever reach the driver. No row
  *    positions pass through a driver-side Seq.
  *  - `updateWhere` is copy-on-write scoped to the touched files: the
  *    census scan finds which files hold matching rows, only those are
  *    rewritten; untouched files survive byte-identical.
  *  - `readChangeFeed` plans driver-side from the log (metadata scale)
  *    and opens only the files each commit names; every data read is a
  *    normal distributed parquet scan.
  */
object DeltaDml {
  import DeltaInterop.{assembleScan, snapshot, resolveDvPositions,
    stageAdds, collectAddStats, writeCommit, addJson, removeJson,
    logDir, CommitName, currentVersion, upgradeProtocolJson}

  private val mapper = new ObjectMapper()

  /** Writer features whose contracts this DML layer upholds (per the
    * protocol, a writer MUST NOT commit to a table declaring a writer
    * feature it does not implement): deletionVectors is implemented;
    * appendOnly is honored by the refusal below; invariants and
    * checkConstraints are honored by refusing row-mutating DML when the
    * table actually records constraints; changeDataFeed by the cdc
    * staging; columnMapping/timestampNtz/identityColumns don't change
    * delete/update semantics for the operations this layer accepts
    * (column-mapped tables are refused separately). Anything else —
    * e.g. rowTracking (these commits would have to maintain row ids) or
    * generatedColumns/identityColumns (an UPDATE/MERGE would have to
    * recompute them) — refuses loudly instead of corrupting the
    * contract. */
  private val upheldWriterFeatures = Set(
    "deletionVectors", "appendOnly", "invariants", "checkConstraints",
    "changeDataFeed", "columnMapping", "timestampNtz",
    // row tracking: DV deletes leave positions (and so ids) untouched;
    // updateWhere/MERGE materialize preserved ids into rewritten files
    // and advance the high-water mark; appends allocate fresh id
    // ranges (DeltaInterop.appendRowTracked); OPTIMIZE/REORG/ZORDER
    // materialize (id, version) through their rewrites.
    "rowTracking", "domainMetadata",
    // liquid clustering: the obligation is state fidelity, not
    // clustering itself (that is OPTIMIZE-time work) — every rewrite
    // preserves add.tags and the delta.clustering domain survives
    // replay/checkpointing; fresh DML files land untagged and become
    // the next OPTIMIZE's candidates
    "clustering",
    // generated columns: UPDATE recomputes them on post-images and
    // refuses direct SET; MERGE derives/validates them on the source.
    // identity columns: appends assign under an OCC mark guard; UPDATE
    // refuses SET on the identity column (row identity is immutable);
    // MERGE refuses below (inserted rows would need mark-advancing
    // assignment inside the merge commit)
    "generatedColumns", "identityColumns",
    // type widening: the writer obligations are (a) never narrow and
    // (b) record further changes in delta.typeChanges — both live in
    // DeltaInterop.widenColumnType; DML just writes the current
    // (already-wide) schema, which every staging path here does
    "typeWidening", "typeWidening-preview",
    // in-commit timestamps: writeCommit itself detects an ICT table
    // from its predecessor commit and stamps a strictly-monotone
    // inCommitTimestamp into every commit — the whole writer contract
    "inCommitTimestamp",
    // vacuumProtocolCheck: the obligation is on VACUUM (verify the
    // protocol before deleting), which our vacuum meets by replaying
    // the snapshot — and on writers only to not strip the feature
    "vacuumProtocolCheck")

  /** The protocol's writer contract for this table, checked before any
    * DML: unknown declared writer features refuse; `delta.appendOnly`
    * tables refuse row deletion/mutation. Recorded CHECK constraints no
    * longer refuse row-mutating DML: the mutating paths validate their
    * POST-IMAGE rows against every recorded condition
    * (`DeltaInterop.validateConstraints`) before staging — a DELETE can
    * never violate a constraint and skips the probe. */
  private def requireDmlWritable(snap: DeltaSnapshot, op: String,
                                 mutatesRows: Boolean): Unit = {
    val unknown = snap.writerFeatureSet -- upheldWriterFeatures
    require(unknown.isEmpty,
      s"$op: table declares writer features ${unknown.mkString(",")} whose " +
      "contracts this engine does not implement — refusing per protocol")
    // rowTracking SUPPORTED but not ENABLED (feature declared, no
    // delta.enableRowTracking): the protocol still obliges every
    // commit to assign fresh baseRowId ranges and advance the mark —
    // our DML does that work only on enabled tables (the state
    // enableRowTracking establishes: domain + backfilled ids)
    require(!snap.writerFeatureSet.contains("rowTracking") ||
        snap.rowTrackingEnabled,
      s"$op: writer feature rowTracking is declared but " +
      "delta.enableRowTracking is not set — the supported-but-not-" +
      "enabled state (fresh id assignment without stability) is not " +
      "implemented; run enableRowTracking or drop the feature")
    require(!snap.configuration.get("delta.appendOnly")
        .exists(_.equalsIgnoreCase("true")),
      s"$op on an append-only Delta table (delta.appendOnly=true) — refusing")
  }

  /** Best-effort removal of files a LOSING commit attempt staged (DV
    * bins, `_change_data` parquet, rewritten data files): the retry
    * re-derives everything from the fresh snapshot, so the loser's
    * files would otherwise accumulate unreferenced until a vacuum. */
  private def io: TableIO = TableIO()

  private def discardStaged(base: String, relPaths: Seq[String]): Unit =
    relPaths.foreach(r =>
      io.delete(DeltaInterop.resolveDataFile(base, r)))

  /** Is Change Data Feed enabled on this table? (The OSS property.) */
  private def cdfEnabled(snap: DeltaSnapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /** Any nondeterministic expression anywhere in the ANALYZED plan?
    * (Checked post-analysis: a Column built from `functions.rand()` is
    * an UnresolvedFunction whose `deterministic` defaults to true —
    * only the resolved tree answers honestly.) */
  private def hasNondeterministic(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(p =>
      p.expressions.exists(e => e.resolved && !e.deterministic))

  private def fileKeyOf(base: String, f: AddFile): String =
    PathCodec.metadataPathKey(DeltaInterop.resolveDataFile(base, f.path))

  /** Stage `_change_data` parquet files (protocol §Change Data Files):
    * data columns + `_change_type`, partition columns hoisted into the
    * cdc action's partitionValues exactly like data files. On
    * column-mapped tables the data columns stage under PHYSICAL names
    * (name mode) / field-id metadata (id mode) and physical-keyed
    * partitionValues, exactly like data files — `_change_type` is a
    * CDF metadata column outside the mapped table schema and always
    * stages by its own name (delta-spark's shape). */
  private def stageCdc(df: DataFrame, base: String,
                       snap: DeltaSnapshot): Seq[AddFile] = {
    val physDf =
      if (snap.columnMappingMode == "none") df
      else {
        val idMode = snap.columnMappingMode == "id"
        if (idMode) df.sparkSession.conf
          .set("spark.sql.parquet.fieldId.write.enabled", "true")
        df.select(df.schema.fieldNames.map { n =>
          if (n == "_change_type") col(n)
          else {
            val phys = snap.physicalName(n)
            if (idMode) {
              val id = snap.fieldId(n).getOrElse(
                throw new IllegalStateException(
                  s"columnMapping.mode=id but field '$n' has no " +
                  "delta.columnMapping.id — corrupt metadata (refusing)"))
              col(n).as(phys, new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", id).build())
            } else col(n).as(phys)
          }
        }: _*)
      }
    stageAdds(physDf, s"$base/_change_data",
      snap.partitionColumns.map(snap.physicalName), snap.configuration)
      .map(a => a.copy(path = s"_change_data/${a.path}"))
  }

  private def cdcJson(a: AddFile, base: String): String = {
    val node = mapper.createObjectNode()
    val c = node.putObject("cdc")
    c.put("path", a.path)
    val pv = c.putObject("partitionValues")
    a.partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v)
    }
    c.put("size", io.length(DeltaInterop.resolveDataFile(base, a.path)))
    c.put("dataChange", false)
    mapper.writeValueAsString(node)
  }

  /** Predicate-driven DELETE recorded as deletion vectors — the
    * merge-on-read path for small scattered deletes where copy-on-write
    * would rewrite most of the table. One distributed scan classifies
    * live rows (rows already masked by a DV are excluded, so replaying
    * an overlapping predicate never double-records a coordinate); DV
    * bins are written per touched file ON THE EXECUTORS; the commit
    * swaps each touched file's (path, dvId) pair atomically. When
    * `delta.enableChangeDataFeed=true`, the same matched rows are also
    * staged as `_change_data` delete rows with a `cdc` action.
    *
    * Column-mapped tables compose: `stageCdc` writes the change files
    * under physical names (name mode) / field-id metadata (id mode),
    * the same conformance the data files get.
    * Version-collision retries re-derive everything from the fresh
    * snapshot, so a lost race never deletes against stale coordinates. */
  def deleteVectoredWhere(spark: SparkSession, base: String,
                          predicate: Column): Long =
    TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
      deleteVectoredOnce(spark, base,
        _.filter(coalesce(predicate, lit(false))),
        scanFiles = scopedFiles(_, predicate))
    }

  /** Files the predicate can possibly match, by their `add.stats`
    * [min, max] — the DML classification-scan scope. A predicate
    * touching 1% of a clustered table's key space must not open 100%
    * of its files to find the matching rows. Conservative by the same
    * contract as `readRange`'s skipping: only a provably-disjoint file
    * is dropped; constraints come from `PredicateBounds` (anything not
    * a conjunct of column-vs-literal comparisons prunes nothing). */
  private[sources] def scopedFiles(snap: DeltaSnapshot,
                                   predicate: Column): Seq[AddFile] = {
    val cs = PredicateBounds.rangeConstraints(
      org.apache.spark.sql.GraftBridge.catalystExpression(predicate))
      .filter { case (c, _) => snap.schema.fieldNames.contains(c) }
    if (cs.isEmpty) snap.files
    else snap.files.filter(f => cs.forall { case (c, b) =>
      DeltaInterop.statsAdmitRange(f, snap.physicalName(c),
        snap.schema(c).dataType, b.lo, b.hi)
    })
  }

  /** DV-delete every target row whose `keys` tuple does NOT appear in
    * `sourceKeys` — the `WHEN NOT MATCHED BY SOURCE THEN DELETE`
    * retention idiom ("keep only rows still in the allowlist"), which
    * no Column predicate can express without collecting the unbounded
    * key set to the driver. One anti join classifies the doomed rows;
    * everything else (executor-side DV bins, CDF delete rows, OCC
    * retry + cleanup) is the shared vectored-delete machinery. */
  /** `keepNullKeys`: a plain anti join deletes NULL-keyed target rows
    * (they match nothing) — correct for MERGE's NOT MATCHED BY SOURCE
    * retention, WRONG for SQL `NOT IN` where a NULL key compares
    * UNKNOWN and the row survives. The SQL front-end passes true. */
  def deleteVectoredNotInSource(spark: SparkSession, base: String,
                                sourceKeys: DataFrame, keys: Seq[String],
                                keepNullKeys: Boolean = false): Long = {
    require(keys.nonEmpty, "retention delete needs >=1 key column")
    keys.foreach(k => require(sourceKeys.columns.contains(k),
      s"source frame lacks key column '$k'"))
    TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
      deleteVectoredOnce(spark, base, { scan =>
        val candidates =
          if (keepNullKeys)
            scan.filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
          else scan
        candidates.join(sourceKeys.select(keys.map(col): _*).distinct(),
          keys, "left_anti")
      })
    }
  }

  /** Semi-join vectored DELETE: rows whose `keys` appear in
    * `sourceKeys` get deletion vectors — the lowering for
    * `DELETE FROM t WHERE k IN (SELECT ...)`, with the subquery as a
    * distributed join side instead of a collected driver list (the
    * subquery may be billions of keys at 100 TB). The dual of
    * `deleteVectoredNotInSource`. */
  def deleteVectoredInSource(spark: SparkSession, base: String,
                             sourceKeys: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "in-source delete needs >=1 key column")
    keys.foreach(k => require(sourceKeys.columns.contains(k),
      s"source frame lacks key column '$k'"))
    TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
      deleteVectoredOnce(spark, base,
        _.join(sourceKeys.select(keys.map(col): _*).distinct(),
          keys, "left_semi"))
    }
  }

  /** Shared vectored-delete body: `classify` maps the coordinate-
    * keeping live scan to the rows to delete; `scanFiles` scopes the
    * scan to the files that can possibly hold a match (statistics
    * pruning — pass all files when the classifier isn't
    * bounds-analyzable, e.g. the anti-join retention delete). */
  private def deleteVectoredOnce(spark: SparkSession, base: String,
                                 classify: DataFrame => DataFrame,
                                 scanFiles: DeltaSnapshot => Seq[AddFile] =
                                   _.files): Long = {
    val snap = snapshot(spark, base)
    // the scan (assembleScan) resolves both mapping modes and the DV
    // machinery addresses (file, pos) — name-free; CDC rows stage
    // under physical names (stageCdc) and read back through the same
    // mapped-scan path, so mapped+CDF tables work end to end
    requireDmlWritable(snap, "deleteVectored", mutatesRows = false)
    val matched0 = classify(assembleScan(spark, base,
      snap.copy(files = scanFiles(snap)), keepCoords = true))
    // SQL DELETE semantics: predicate-NULL rows survive (coalesce false).
    // A NONDETERMINISTIC predicate must evaluate exactly once — the
    // matched frame feeds both the DV write and the CDC staging, and a
    // re-run (or a second consumer) re-rolling the dice would record a
    // DIFFERENT row set in the change feed than in the vectors
    val matched =
      if (!hasNondeterministic(matched0)) matched0
      else matched0.localCheckpoint(eager = true)
    // driver-side file metadata, used twice: a TRIMMED (no stats JSON)
    // broadcast ships only (path, dv) per file to the executors; the
    // full AddFiles stay on the driver for the commit lines
    val fkMap: Map[String, AddFile] =
      snap.files.map(f => fileKeyOf(base, f) -> f).toMap
    val dvByKeyB = spark.sparkContext.broadcast(
      snap.files.map(f => fileKeyOf(base, f) -> f.dv).toMap)
    import spark.implicits._
    val baseStr = base
    // one DV bin per touched file, written where the rows are: the
    // executor task unions the file's OLD positions (protocol: a new
    // AddFile's DV REPLACES the old, so it must carry old ∪ new) and
    // writes the RoaringBitmap sidecar; only the descriptor row returns
    val written: Array[(String, String, Int, Int, Long, String)] =
      matched.select(col("__delta_file"), col("__delta_pos"))
        .groupBy("__delta_file")
        .agg(collect_list(col("__delta_pos")).as("pos"))
        .as[(String, Seq[Long])]
        .mapPartitions { it =>
          it.map { case (key, newPos) =>
            val old = dvByKeyB.value(key).map(d =>
              resolveDvPositions(baseStr, d).toSeq).getOrElse(Seq.empty)
            val all = (old ++ newPos).distinct.sorted
            val uuid = UUID.randomUUID()
            val binName = s"deletion_vector_$uuid.bin"
            // executor-side write through the storage seam (an
            // object-store deployment installs TableIO.current on the
            // executors too)
            val (binBytes, off) = DeletionVectors.dvFileBytes(all)
            TableIO().writeBytes(TableIO.join(baseStr, binName), binBytes)
            val size = DeletionVectors.dvDataBytes(all).length
            (key, DeletionVectors.encodeUuid(uuid), off, size,
              all.length.toLong, binName)
          }
        }
        .collect() // ONE ROW PER TOUCHED FILE — metadata scale
    if (written.isEmpty) return snap.version // no match → no commit
    // CDF: the deleted rows, staged under _change_data BEFORE the commit
    val cdcAdds =
      if (!cdfEnabled(snap)) Seq.empty[AddFile]
      else {
        val cdcDf = matched
          .select(snap.schema.fieldNames.map(col) :+
            lit("delete").as("_change_type"): _*)
        stageCdc(cdcDf, base, snap)
      }
    val cdcLines = cdcAdds.map(cdcJson(_, base))
    val touched = written.toSeq.map { case (key, enc, off, size, card, _) =>
      val f = fkMap(key)
      f -> f.copy(dv = Some(DvDescriptor("u", enc, Some(off), size, card)))
    }
    val v = snap.version + 1
    // only UPGRADE the protocol when the table does not already claim
    // the DV feature set — a redundant protocol action on every delete
    // would make each one look like a metadata change to the OCC
    // reconciler (and to external readers' invariants)
    val protoLines =
      if (snap.protocolFeatures.contains("deletionVectors")) Seq.empty
      else Seq(upgradeProtocolJson(snap,
        Set("deletionVectors"), Set("deletionVectors"), 3, 7))
    try writeCommit(base, v,
      protoLines ++ cdcLines ++
        touched.map { case (old, _) => removeJson(old.path, old.dv, dataChange = true) } ++
        touched.map { case (_, nu) => addJson(nu, base) },
      operation = "DELETE")
    catch {
      case e: java.util.ConcurrentModificationException =>
        // losing attempt: its DV bins and staged change files reference
        // a stale snapshot — remove them before the retry re-derives
        discardStaged(base,
          written.toSeq.map(_._6) ++ cdcAdds.map(_.path))
        throw e
    }
    v
  }

  /** Predicate-driven UPDATE, copy-on-write scoped to touched files:
    * files holding ≥1 matching row are rewritten (matching rows get
    * `set`, survivors are carried verbatim, the file's DV folds into
    * the rewrite); untouched files are not mentioned in the commit.
    * When CDF is enabled, `update_preimage` / `update_postimage` rows
    * land in `_change_data` with a `cdc` action — the exact change-row
    * contract delta-spark's UPDATE writes. Partition columns cannot be
    * updated (that is a MERGE/rewrite, not an in-place update). */
  def updateWhere(spark: SparkSession, base: String, predicate: Column,
                  set: Map[String, Column]): Long =
    TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
      updateMarkedOnce(spark, base, scopedFiles(_, predicate),
        _.withColumn("__upd", coalesce(predicate, lit(false))), set)
    }

  /** UPDATE whose row selection is MEMBERSHIP of `key` in `sourceKeys`
    * — the lowering for `UPDATE t SET ... WHERE k [NOT] IN (SELECT
    * ...)`, subquery as a distributed join side (never a collected
    * driver list). Contracts mirror the vectored-delete primitives:
    * the caller refuses a NULL-producing NOT IN subquery; NULL target
    * keys compare UNKNOWN and are never updated; the IN form scopes
    * the census by the subquery's [min,max] key range through the
    * same add.stats bounds the scalar path uses. */
  def updateInSource(spark: SparkSession, base: String,
                     sourceKeys: DataFrame, key: String,
                     set: Map[String, Column], negated: Boolean = false,
                     extra: Option[Column] = None,
                     // NOT EXISTS semantics: a NULL target key has no
                     // match, so NOT EXISTS is TRUE and the row updates
                     // (NOT IN leaves it — UNKNOWN); flip per statement
                     includeNullKeys: Boolean = false): Long = {
    val flag = sourceKeys.select(col(key)).distinct()
      .withColumn("__in_sub", lit(true)).persist()
    try {
      val member =
        if (negated) coalesce(col("__in_sub"), lit(false)) === lit(false) &&
          (if (includeNullKeys) lit(true) else col(key).isNotNull)
        else coalesce(col("__in_sub"), lit(false))
      val upd = extra.map(e => member && coalesce(e, lit(false)))
        .getOrElse(member)
      val mark = (df: DataFrame) =>
        df.join(flag, Seq(key), "left")
          .withColumn("__upd", upd).drop("__in_sub")
      val scope = (snap: DeltaSnapshot) =>
        if (negated) extra.map(scopedFiles(snap, _)).getOrElse(snap.files)
        else {
          val mm = flag.agg(min(col(key)), max(col(key))).head()
          if (mm.isNullAt(0)) Seq.empty[AddFile] // empty/all-NULL subquery
          else {
            // synthetic range predicate → the existing add.stats
            // pruning, composed with any analyzable extra conjunct
            val ranged = col(key) >= lit(mm.get(0)) &&
              col(key) <= lit(mm.get(1))
            scopedFiles(snap, extra.map(ranged && _).getOrElse(ranged))
          }
        }
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        updateMarkedOnce(spark, base, scope, mark, set)
      }
    } finally flag.unpersist()
  }

  /** Shared UPDATE body: `scope` bounds the census to candidate files
    * (add.stats / key ranges); `mark` appends a boolean `__upd` row
    * selector to any scan of the table (it runs on census, rewrite AND
    * change-row scans — must be deterministic). */
  private def updateMarkedOnce(spark: SparkSession, base: String,
                               scope: DeltaSnapshot => Seq[AddFile],
                               mark: DataFrame => DataFrame,
                               set: Map[String, Column]): Long = {
    val snap = snapshot(spark, base)
    // the scan resolves mapping; the rewrite AND the CDC rows conform
    // their staged files to physical names (stageCdc)
    requireDmlWritable(snap, "updateWhere", mutatesRows = true)
    val rowTracked = snap.rowTrackingEnabled
    if (rowTracked) {
      // column mapping composes in BOTH modes: the materialized id
      // columns are physical by construction (conformToPhysical passes
      // them through — in id mode they stay id-less and resolve by
      // their fixed names, while mapped columns are stamped with their
      // mapping ids), and the scan resolves the rest.
      // CDF composes: change rows are LOGICAL (schema + _change_type,
      // no id columns — the cdc projections select schema fields), and
      // the rewrite's id materialization is independent of them
      snap.files.foreach(f => require(f.baseRowId.isDefined,
        s"live file ${f.path} carries no baseRowId — corrupt " +
        "row-tracking state (refusing)"))
    }
    val generated = DeltaInterop.generatedColumnsOf(snap.schema).toMap
    set.keys.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"SET column '$c' is not in the table schema")
      require(!snap.partitionColumns.contains(c),
        s"SET column '$c' is a partition column — updating it moves rows " +
        "across partitions (use a merge/rewrite instead)")
      require(!generated.contains(c),
        s"SET column '$c' is GENERATED ALWAYS AS (${generated(c)}) — it " +
        "derives from its sources and recomputes automatically")
      require(!DeltaInterop.identityColumnOf(snap.schema).exists(_._1 == c),
        s"SET column '$c' is an IDENTITY column — row identity is " +
        "immutable")
    }
    // SQL UPDATE is a SIMULTANEOUS assignment: every RHS sees the
    // ORIGINAL row, never another SET's result — each RHS lands in a
    // temp column computed against the untouched frame, then the swap.
    // Generated columns recompute from the POST-image (idempotent on
    // unmatched rows — their value already equals the expression).
    val setTyped: Seq[(String, Column)] = set.toSeq.map { case (c, e) =>
      c -> e.cast(snap.schema(c).dataType) }
    def applySet(df: DataFrame, gated: Boolean): DataFrame = {
      val withTemps = setTyped.foldLeft(df) { case (d, (c, e)) =>
        d.withColumn(s"__set_$c", e) }
      val swapped = setTyped.foldLeft(withTemps) { case (d, (c, _)) =>
        d.withColumn(c,
          if (gated) when(col("__upd"), col(s"__set_$c")).otherwise(col(c))
          else col(s"__set_$c"))
      }
      val regenerated = generated.foldLeft(swapped) { case (d, (c, sql)) =>
        d.withColumn(c, expr(sql).cast(snap.schema(c).dataType))
      }
      // the row-tracking materialized columns (when attached) ride
      // along OUTSIDE the table schema into the rewritten files
      val keepExtras = Seq(DeltaInterop.MaterializedRowIdCol,
          DeltaInterop.MaterializedRowVerCol)
        .filter(regenerated.columns.contains)
      regenerated.select(
        (snap.schema.fieldNames ++ keepExtras).map(col): _*)
    }
    // census scan scoped by add.stats: files whose [min,max] provably
    // exclude the selector are never opened (conservative, same
    // contract as readRange's skipping)
    val scoped = scope(snap)
    if (scoped.isEmpty) return snap.version
    val scan = mark(assembleScan(spark, base,
        snap.copy(files = scoped), keepCoords = true))
    // the predicate and every SET expression are evaluated across
    // SEVERAL jobs (census, rewrite, change rows) — nondeterminism
    // would select different rows in each; refuse rather than tear.
    // Probed on ANALYZED frames (unresolved exprs claim determinism).
    require(!hasNondeterministic(scan),
      "updateWhere requires a deterministic predicate (it evaluates in " +
      "more than one job) — precompute random values into a column first")
    require(!hasNondeterministic(
        scan.select(setTyped.map(_._2) :+ col("__upd"): _*)),
      "updateWhere requires deterministic SET expressions (they " +
      "evaluate in more than one job) — precompute random values first")
    // census: which files hold a matching row — bounded collect (one
    // row per touched file, metadata scale, same shape as AQE stats)
    val touchedKeys = scan.filter(col("__upd"))
      .select(col("__delta_file")).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedKeys.isEmpty) return snap.version // no match → no commit
    val touched = snap.files.filter(f => touchedKeys.contains(fileKeyOf(base, f)))
    val v = snap.version + 1
    // rewrite ONLY the touched files: survivors verbatim, matches
    // updated. Row tracking (protocol §Row Tracking): every rewritten
    // row MATERIALIZES its row id (resolved from the source file's
    // materialized column, else baseRowId + position) and its commit
    // version — updated rows move to THIS commit's version, surviving
    // rows keep theirs — so ids stay stable across copy-on-write.
    val touchedScan0 = mark(assembleScan(spark, base,
        snap.copy(files = touched), keepCoords = rowTracked,
        extraCols =
          if (!rowTracked) Seq.empty
          else Seq(
            org.apache.spark.sql.types.StructField(
              DeltaInterop.MaterializedRowIdCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              DeltaInterop.MaterializedRowVerCol,
              org.apache.spark.sql.types.LongType))))
    val touchedScan =
      if (!rowTracked) touchedScan0
      else {
        import spark.implicits._
        val fileMap = touched.map(f => (fileKeyOf(base, f),
            f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(0L)))
          .toDF("__delta_file", "__base_rid", "__def_ver")
        touchedScan0.join(broadcast(fileMap), Seq("__delta_file"))
          .withColumn(DeltaInterop.MaterializedRowIdCol,
            coalesce(col(DeltaInterop.MaterializedRowIdCol),
              col("__base_rid") + col("__delta_pos")))
          .withColumn(DeltaInterop.MaterializedRowVerCol,
            when(col("__upd"), lit(v)).otherwise(
              coalesce(col(DeltaInterop.MaterializedRowVerCol),
                col("__def_ver"))))
          .drop("__delta_file", "__delta_pos", "__base_rid", "__def_ver")
      }
    val updated = applySet(touchedScan, gated = true)
    // CHECK constraints validate the post-image of MATCHED rows only
    // (survivors already satisfied them at their own write time)
    DeltaInterop.validateConstraints(snap.configuration,
      applySet(touchedScan.filter(col("__upd")), gated = false), "updateWhere")
    // CDF rows from the pre-update state (both images carry the FULL row)
    val cdcAdds =
      if (!cdfEnabled(snap)) Seq.empty[AddFile]
      else {
        val pre = scan.filter(col("__upd"))
        val post = applySet(pre, gated = false)
        val cdcDf = pre.select(snap.schema.fieldNames.map(col): _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(post.withColumn("_change_type", lit("update_postimage")))
        stageCdc(cdcDf, base, snap)
      }
    val cdcLines = cdcAdds.map(cdcJson(_, base))
    // mapped tables: the rewritten files must carry PHYSICAL names
    // (and physical partitionValues keys), same as any append
    val updatedPhys = DeltaInterop.conformToPhysical(snap, updated)
    val physParts = snap.partitionColumns.map(snap.physicalName)
    val adds0 = collectAddStats(spark, base,
      stageAdds(updatedPhys, base, physParts, snap.configuration),
      StructType(updatedPhys.schema.filterNot(f =>
        physParts.contains(f.name))))
    // row tracking: every add still needs a fresh baseRowId range (the
    // protocol requires it even when all rows carry materialized ids)
    // and the commit advances the high-water mark domain
    var hwm = snap.rowIdHighWaterMark
    val adds =
      if (!rowTracked) adds0
      else adds0.map { a =>
        val n = DeltaInterop.numRecordsOf(a)
        val r = a.copy(baseRowId = Some(hwm + 1),
          defaultRowCommitVersion = Some(v))
        hwm += n
        r
      }
    val domainLines =
      if (rowTracked) Seq(DeltaInterop.rowTrackingDomainJson(hwm))
      else Seq.empty
    try writeCommit(base, v,
      cdcLines ++
        touched.map(f => removeJson(f.path, f.dv, dataChange = true)) ++
        adds.map(addJson(_, base)) ++ domainLines,
      operation = "UPDATE")
    catch {
      case e: java.util.ConcurrentModificationException =>
        // losing attempt: rewritten files + change rows were derived
        // from a stale snapshot — remove before the retry re-derives
        discardStaged(base, adds.map(_.path) ++ cdcAdds.map(_.path))
        throw e
    }
    v
  }

  /** Keyed MERGE (upsert), copy-on-write scoped by data skipping — the
    * same 100 TB shape as graft-log's `upsertScoped`, driven by Delta's
    * own `add.stats`: a file is rewritten ONLY when its recorded
    * [min,max] on `key` contains at least one update key (one
    * broadcast range-join of the update keys against the ≤#files
    * stats rows decides membership — output is bounded by the file
    * count). Untouched files cannot hold any update key, so skipping
    * them preserves exact MERGE semantics. Matched keys are replaced
    * by their update row, unmatched update keys insert; files without
    * parseable stats are conservatively rewritten. CDF-enabled tables
    * get update_preimage/update_postimage/insert change rows. */
  def mergeUpsert(spark: SparkSession, base: String, updates0: DataFrame,
                  key: String): Long =
    mergeUpsertKeys(spark, base, updates0, Seq(key))

  /** Composite-key MERGE: exact matching on ALL `keys`; file skipping
    * stays driven by `keys.head`'s add.stats range (files whose head-key
    * range excludes every update head-key cannot match the full
    * composite either, so pruning on the leading key alone is
    * conservative and exact — pick the clustered column first). */
  /** `evolveSchema` (delta-spark's `schema.autoMerge`, OFF by default):
    * source columns absent from the table are ADDED first (nullable,
    * appended — `DeltaInterop.addColumns` semantics: old files read
    * them as NULL), then the merge lands their values. Two commits
    * (evolution, then merge) — the schema change is visible one
    * version before the data, the same observable order as running
    * ALTER TABLE ADD COLUMNS + MERGE by hand. Explicit opt-in because
    * a typo'd source column silently widening the table is the classic
    * autoMerge hazard. */
  def mergeUpsertKeys(spark: SparkSession, base: String, updates0: DataFrame,
                      keys: Seq[String],
                      evolveSchema: Boolean = false): Long = {
    if (evolveSchema) {
      val have = snapshot(spark, base).schema.fieldNames.toSet
      val extra = updates0.schema.fields.filterNot(f => have.contains(f.name))
      if (extra.nonEmpty)
        DeltaInterop.addColumns(spark, base,
          org.apache.spark.sql.types.StructType(
            extra.map(_.copy(nullable = true))))
    }
    TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
      mergeUpsertOnce(spark, base, updates0, keys)
    }
  }

  private def mergeUpsertOnce(spark: SparkSession, base: String,
                              updates0: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val key = keys.head // the skipping (stats-range) key
    val snap = snapshot(spark, base)
    // the scan resolves mapping, stats are looked up by PHYSICAL name,
    // and both the merged staging and the CDC rows conform to
    // physical names (stageCdc)
    requireDmlWritable(snap, "mergeUpsert", mutatesRows = true)
    val rowTracked = snap.rowTrackingEnabled
    if (rowTracked) {
      snap.files.foreach(f => require(f.baseRowId.isDefined,
        s"live file ${f.path} carries no baseRowId — corrupt " +
        "row-tracking state (refusing)"))
    }
    DeltaInterop.identityColumnOf(snap.schema).foreach { id =>
      throw new IllegalArgumentException(
        s"mergeUpsert into a table with IDENTITY column '${id._1}' is " +
        "not supported: inserted rows would need mark-advancing id " +
        "assignment inside the merge commit (GENERATED ALWAYS also " +
        "forbids source-provided ids) — append new rows instead")
    }
    keys.foreach(k => require(snap.schema.fieldNames.contains(k),
      s"merge key '$k' is not a table column"))
    // generated columns derive (or validate, when provided) BEFORE the
    // exact-column check — the natural MERGE source carries only the
    // real columns
    val updatesG =
      DeltaInterop.applyGeneratedColumns(snap.schema, updates0, "mergeUpsert")
    // conform updates to the TABLE schema (implicit-cast MERGE semantics)
    require(updatesG.columns.toSet == snap.schema.fieldNames.toSet,
      s"merge source must carry exactly the table columns " +
      s"(${snap.schema.fieldNames.mkString(",")}), got " +
      s"(${updates0.columns.mkString(",")})")
    // pinned: the source frame feeds the constraint probe, the
    // duplicate probe, the stats range-join, the CDC images and the
    // staging writes — unmaterialized it would evaluate (joins and
    // all) once per consumer
    val updates = updatesG.select(snap.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*).persist()
    try {
    // every merged row's post-image comes from `updates` (matched keys
    // take the update row, unmatched keys insert it) — one probe
    // validates all recorded CHECK constraints
    DeltaInterop.validateConstraints(snap.configuration, updates,
      "mergeUpsert")
    // SQL MERGE semantics: multiple source rows matching one target key
    // is an error, not a silent duplication (one bounded agg probe)
    val dup = updates.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge source has duplicate (${keys.mkString(",")}) values (e.g. ${
        if (dup.isEmpty) "" else dup.head.toSeq.init.mkString(",")}) — SQL " +
      "MERGE forbids multiple source rows per target key; de-duplicate " +
      "the source first")

    // per-file [min,max] on the key from add.stats (driver-side JSON
    // parse, metadata scale). Unparseable → None → conservatively touched.
    val keyType = snap.schema(key).dataType
    val physKey = snap.physicalName(key) // add.stats keys are physical
    def statBound(f: AddFile, which: String): Option[Any] =
      f.stats.flatMap { js =>
        try {
          val n = mapper.readTree(js).get(which)
          val v = if (n == null) null else n.get(physKey)
          if (v == null || v.isNull) None
          else keyType match {
            case ByteType | ShortType | IntegerType | LongType =>
              Some(v.asLong())
            case FloatType | DoubleType => Some(v.asDouble())
            case _: DecimalType => Some(BigDecimal(v.asText()))
            case StringType => Some(v.asText())
            case _ => None
          }
        } catch { case _: Exception => None }
      }
    val ranges: Seq[(Int, Option[Any], Option[Any])] =
      snap.files.zipWithIndex.map { case (f, i) =>
        (i, statBound(f, "minValues"), statBound(f, "maxValues"))
      }
    val statless = ranges.collect { case (i, mn, mx) if mn.isEmpty || mx.isEmpty => i }
    val bounded = ranges.collect { case (i, Some(mn), Some(mx)) => (i, mn, mx) }
    // ONE broadcast range-join decides which bounded files hold ≥1
    // update key; output ≤ #files rows
    val touchedBounded: Set[Int] =
      if (bounded.isEmpty) Set.empty
      else keyRangeHits(updates, key, keyType, bounded)
        .collect().map(_.getInt(0)).toSet // ≤ #files rows
    val touchedIdx = touchedBounded ++ statless
    val touched = touchedIdx.toSeq.sorted.map(snap.files)
    val v = snap.version + 1
    // Row tracking (protocol §Row Tracking): the touched scan resolves
    // every row's id and commit version (materialized column else
    // baseRowId + position) so survivors carry BOTH forward and
    // matched post-images inherit their old row's id with THIS
    // commit's version — stable ids across the upsert. A key matching
    // several target rows collapses to one post-image (this merge's
    // replace-by-key contract); it keeps the MIN of the old ids, the
    // others die with their rows.
    val ridCol = DeltaInterop.MaterializedRowIdCol
    val rverCol = DeltaInterop.MaterializedRowVerCol
    val touchedScan =
      if (touched.isEmpty) null
      else if (!rowTracked) assembleScan(spark, base, snap.copy(files = touched))
      else {
        import spark.implicits._
        val scan0 = assembleScan(spark, base, snap.copy(files = touched),
          keepCoords = true, extraCols = Seq(
            org.apache.spark.sql.types.StructField(ridCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(rverCol,
              org.apache.spark.sql.types.LongType)))
        val fileMap = touched.map(f => (fileKeyOf(base, f),
            f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(0L)))
          .toDF("__delta_file", "__base_rid", "__def_ver")
        scan0.join(broadcast(fileMap), Seq("__delta_file"))
          .withColumn(ridCol,
            coalesce(col(ridCol), col("__base_rid") + col("__delta_pos")))
          .withColumn(rverCol,
            coalesce(col(rverCol), col("__def_ver")))
          .drop("__delta_file", "__delta_pos", "__base_rid", "__def_ver")
      }
    // CDF images from the pre-merge state of the touched slice
    val cdcAdds =
      if (!cdfEnabled(snap)) Seq.empty[AddFile]
      else {
        val cols = snap.schema.fieldNames.map(col)
        val matchedOld =
          if (touched.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
          else touchedScan.join(updates.select(keys.map(col): _*).distinct(),
            keys, "left_semi")
        val matchedKeys = matchedOld.select(keys.map(col): _*).distinct()
        val matchedNew = updates.join(matchedKeys, keys, "left_semi")
        val inserted = updates.join(matchedKeys, keys, "left_anti")
        val cdcDf = matchedOld.select(cols: _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(matchedNew.select(cols: _*)
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(inserted.select(cols: _*)
            .withColumn("_change_type", lit("insert")))
        stageCdc(cdcDf, base, snap)
      }
    val cdcLines = cdcAdds.map(cdcJson(_, base))
    // survivors of touched files (keys not updated) + ALL update rows.
    // Row tracking stages TWO file sets: the rewritten slice (survivors
    // + matched post-images, ids MATERIALIZED) and the inserts (plain —
    // their ids resolve as the fresh range's baseRowId + position).
    val physParts = snap.partitionColumns.map(snap.physicalName)
    def stageSet(df: DataFrame): Seq[AddFile] = {
      // mapped tables stage under physical names, like any append
      val phys = DeltaInterop.conformToPhysical(snap, df)
      val adds = collectAddStats(spark, base,
        stageAdds(phys, base, physParts, snap.configuration),
        StructType(phys.schema.filterNot(f => physParts.contains(f.name))))
      // a staged file the stats scan saw NO row group for is empty (an
      // all-matched or all-new merge leaves one side with zero rows) —
      // drop it instead of committing an empty add
      val (empty, live) = adds.partition(_.stats.isEmpty)
      discardStaged(base, empty.map(_.path))
      live
    }
    val schemaCols = snap.schema.fieldNames.map(col)
    val adds0: Seq[AddFile] =
      if (!rowTracked) {
        val merged =
          if (touched.isEmpty) updates
          else touchedScan.join(updates.select(keys.map(col): _*).distinct(),
              keys, "left_anti")
            .select(schemaCols: _*)
            .unionByName(updates.select(schemaCols: _*))
        stageSet(merged)
      } else if (touched.isEmpty) {
        stageSet(updates) // nothing matched by stats range: all inserts
      } else {
        val withIds = (snap.schema.fieldNames :+ ridCol :+ rverCol).map(col)
        val updKeys = updates.select(keys.map(col): _*).distinct()
        val survivors = touchedScan.join(updKeys, keys, "left_anti")
          .select(withIds: _*)
        val oldIds = touchedScan.join(updKeys, keys, "left_semi")
          .groupBy(keys.map(col): _*).agg(min(col(ridCol)).as("__old_rid"))
        val matchedNew = updates.join(oldIds, keys, "inner")
          .withColumn(ridCol, col("__old_rid"))
          .withColumn(rverCol, lit(v))
          .select(withIds: _*)
        val inserted = updates
          .join(oldIds.select(keys.map(col): _*), keys, "left_anti")
          .select(schemaCols: _*)
        stageSet(survivors.unionByName(matchedNew)) ++ stageSet(inserted)
      }
    // row tracking: every add gets a fresh burn range off the mark
    // (materialized values override where present); the commit
    // advances the high-water-mark domain
    var hwm = snap.rowIdHighWaterMark
    val adds =
      if (!rowTracked) adds0
      else adds0.map { a =>
        val n = DeltaInterop.numRecordsOf(a)
        val r = a.copy(baseRowId = Some(hwm + 1),
          defaultRowCommitVersion = Some(v))
        hwm += n
        r
      }
    val domainLines =
      if (rowTracked) Seq(DeltaInterop.rowTrackingDomainJson(hwm))
      else Seq.empty
    try writeCommit(base, v,
      cdcLines ++
        touched.map(f => removeJson(f.path, f.dv, dataChange = true)) ++
        adds.map(addJson(_, base)) ++ domainLines,
      operation = "MERGE")
    catch {
      case e: java.util.ConcurrentModificationException =>
        // losing attempt: merged files + change rows were derived from
        // a stale snapshot — remove before the retry re-derives
        discardStaged(base, adds.map(_.path) ++ cdcAdds.map(_.path))
        throw e
    }
    v
    } finally updates.unpersist(blocking = false)
  }

  /** The merge's data-skipping decision as a frame: which file indexes
    * hold ≥1 update key, by ONE range-join of the update keys against
    * the (bounded, ≤#files) stats rows. The ranges side is the
    * BROADCAST build — broadcasting the unbounded update side instead
    * would OOM the driver at scale; `DeltaDmlPlanSpec` pins the plan. */
  private[sources] def keyRangeHits(updates: DataFrame, key: String,
                                    keyType: DataType,
                                    bounded: Seq[(Int, Any, Any)]): DataFrame = {
    val spark = updates.sparkSession
    import spark.implicits._
    val rangeDf = bounded.map { case (i, mn, mx) =>
      (i, mn.toString, mx.toString) }.toDF("__fidx", "__mn", "__mx")
    // compare in the KEY's type space: cast the stringified bounds
    // back (lossless for integral/decimal/string; double via text)
    updates.select(col(key).as("__k"))
      .join(broadcast(rangeDf),
        col("__k") >= col("__mn").cast(keyType) &&
        col("__k") <= col("__mx").cast(keyType))
      .select("__fidx").distinct()
  }

  // ------------------------------------------------------------ CDF read

  private def parseDvNode(n: JsonNode): Option[DvDescriptor] =
    Option(n).filterNot(_.isNull).map { d =>
      DvDescriptor(d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
        d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
    }

  private def parsePv(n: JsonNode): Map[String, String] =
    Option(n).map { m =>
      val it = m.fields(); val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }
      b.result()
    }.getOrElse(Map.empty)

  /** Row-level change feed over commit versions [fromVersion,
    * toVersion], the batch form of delta-spark's `table_changes`:
    *
    *  - commits carrying `cdc` actions are read from their
    *    `_change_data` files VERBATIM (authoritative: exact
    *    insert / update_preimage / update_postimage / delete rows, the
    *    contract a CDF-enabled OSS writer produces);
    *  - commits without cdc actions fall back to the add/remove file
    *    diff, DELETION-VECTOR AWARE: a plain add is inserts, a plain
    *    remove is deletes of its live rows, and a (remove, add) pair on
    *    the same path diffs the two DVs — newly-masked positions emit
    *    `delete`, unmasked positions (RESTORE to a pre-DV state) emit
    *    `insert`. Rewrite-only commits (`dataChange=false`, OPTIMIZE)
    *    emit nothing.
    *
    * Appends `_change_type`, `_commit_version`, `_commit_timestamp`
    * (the commit file's mtime — the protocol's time-travel clock).
    * All reads use the range-end schema; removed files must still exist
    * on disk (vacuum retention bounds feed reach, exactly as in Delta).
    * Planning is one driver-side log read; row emission is distributed
    * parquet scans of only the files the commits name. */
  def readChangeFeed(spark: SparkSession, base: String, fromVersion: Long,
                     toVersion: Option[Long] = None): DataFrame = {
    val head = snapshot(spark, base, toVersion)
    val end = head.version
    require(fromVersion <= end,
      s"fromVersion $fromVersion is beyond version $end of $base")
    val dir = logDir(base)
    val commitFiles = io.list(dir).filter(CommitName.matches).sorted
      .map(f => (f.stripSuffix(".json").toLong, TableIO.join(dir, f)))
      .filter { case (v, _) => v >= fromVersion && v <= end }
    require(commitFiles.map(_._1).toSet == (fromVersion to end).toSet,
      s"log of $base is missing commits in [$fromVersion, $end] " +
      "(checkpoint-compacted?) — change feed cannot be gap-free")
    import spark.implicits._

    val withType = StructType(head.schema.fields :+
      StructField("_change_type", StringType))
    def finish(df: DataFrame, changeType: Option[String], v: Long,
               tsMillis: Long): DataFrame = {
      val typed = changeType match {
        case Some(t) => df.withColumn("_change_type", lit(t))
        case None => df // cdc files already carry the column
      }
      typed.withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(tsMillis)))
    }
    /** Rows of `f` at exactly `positions` (raw parquet row_index). The
      * position list is bounded by DV cardinality — broadcast side. */
    def rowsAt(f: AddFile, positions: Seq[Long]): DataFrame = {
      val sc = assembleScan(spark, base,
        head.copy(files = Seq(f.copy(dv = None))), keepCoords = true)
      sc.join(broadcast(positions.toDF("__delta_pos")),
          Seq("__delta_pos"), "left_semi")
        .drop("__delta_file", "__delta_pos")
    }

    val parts: Seq[DataFrame] = commitFiles.flatMap { case (v, cf) =>
      val cdcE = mutable.ArrayBuffer.empty[AddFile]
      val addE = mutable.ArrayBuffer.empty[AddFile]
      val removeE = mutable.ArrayBuffer.empty[(String, Option[DvDescriptor])]
      // the commit's clock: in-commit timestamp when the table writes
      // them (authoritative per protocol), else the file's mtime
      var ict: Option[Long] = None
      io.readLines(cf).foreach { line =>
        if (line.nonEmpty) {
          val n = mapper.readTree(line)
          Option(n.get("commitInfo")).foreach(ci =>
            Option(ci.get("inCommitTimestamp"))
              .foreach(t => ict = Some(t.asLong())))
          Option(n.get("cdc")).foreach { c =>
            cdcE += AddFile(c.get("path").asText(),
              parsePv(c.get("partitionValues")))
          }
          Option(n.get("add")).foreach { a =>
            if (Option(a.get("dataChange")).forall(_.asBoolean(true)))
              addE += AddFile(a.get("path").asText(),
                parsePv(a.get("partitionValues")),
                dv = parseDvNode(a.get("deletionVector")))
          }
          Option(n.get("remove")).foreach { r =>
            if (Option(r.get("dataChange")).forall(_.asBoolean(true)))
              removeE += ((r.get("path").asText(),
                parseDvNode(r.get("deletionVector"))))
          }
        }
      }
      val ts = ict.getOrElse(io.lastModified(cf))
      if (cdcE.nonEmpty) {
        // authoritative change files: data columns + _change_type, pv
        // re-attached from the cdc action exactly like data files
        val cdcSnap = head.copy(schema = withType, files = cdcE.toSeq)
        Seq(finish(assembleScan(spark, base, cdcSnap), None, v, ts))
      } else {
        val removedByPath = removeE.toMap
        val addedPaths = addE.map(_.path).toSet
        // previous state resolves pv + pre-commit DV for removed paths
        // (remove actions need not carry them) — driver metadata replay
        lazy val prev: Map[String, AddFile] =
          if (v == 0) Map.empty
          else snapshot(spark, base, Some(v - 1)).files
            .map(f => f.path -> f).toMap
        val inserts = addE.filterNot(a => removedByPath.contains(a.path)).toSeq
        val removeOnly = removeE.filterNot { case (p, _) =>
          addedPaths.contains(p) }.toSeq
        val transitions = addE.filter(a => removedByPath.contains(a.path)).toSeq
        val insertPart =
          if (inserts.isEmpty) Seq.empty
          else Seq(finish(assembleScan(spark, base,
            head.copy(files = inserts)), Some("insert"), v, ts))
        val deletePart =
          if (removeOnly.isEmpty) Seq.empty
          else {
            val files = removeOnly.map { case (p, dvAct) =>
              prev.get(p).map(f => f.copy(dv = f.dv.orElse(dvAct)))
                .getOrElse(AddFile(p, Map.empty, dv = dvAct))
            }
            Seq(finish(assembleScan(spark, base,
              head.copy(files = files)), Some("delete"), v, ts))
          }
        val transitionParts = transitions.flatMap { nu =>
          val oldDv = prev.get(nu.path).flatMap(_.dv)
            .orElse(removedByPath(nu.path))
          val oldPos = oldDv.map(d =>
            resolveDvPositions(base, d).toSet).getOrElse(Set.empty)
          val newPos = nu.dv.map(d =>
            resolveDvPositions(base, d).toSet).getOrElse(Set.empty)
          val pvFile = prev.getOrElse(nu.path, nu)
          val masked = (newPos -- oldPos).toSeq.sorted
          val unmasked = (oldPos -- newPos).toSeq.sorted
          (if (masked.isEmpty) Seq.empty
           else Seq(finish(rowsAt(pvFile, masked), Some("delete"), v, ts))) ++
          (if (unmasked.isEmpty) Seq.empty
           else Seq(finish(rowsAt(pvFile, unmasked), Some("insert"), v, ts)))
        }
        insertPart ++ deletePart ++ transitionParts
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val empty = StructType(withType.fields ++ Seq(
        StructField("_commit_version", LongType, nullable = false),
        StructField("_commit_timestamp", TimestampType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }
}
