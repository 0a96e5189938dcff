package graft.sources

import java.util.UUID

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta Lake open-format interop, built from the PUBLIC protocol
  * specification (delta.io PROTOCOL.md): a reader that replays a real
  * `_delta_log` — newline-delimited JSON actions plus classic v1 parquet
  * checkpoints — and a minimal conformant writer used to produce
  * fixtures (and usable by any OSS Delta reader).
  *
  * Scope (documented in BASELINE.md): reader protocol v1-v2 (throws on
  * v3+ features such as deletion vectors rather than silently dropping
  * rows), schemaString → Spark schema, partition-value injection,
  * time travel by version. The OSS delta-spark jars are not obtainable
  * in this offline sandbox, so conformance is proven against
  * protocol-format fixtures, not a delta-spark round trip.
  *
  * Scale notes:
  *  - log replay is driver-side metadata work, bounded by actions since
  *    the last checkpoint (the same contract Delta itself has);
  *  - partition columns are NOT in the data files (per protocol); they
  *    are re-attached via ONE broadcast join of the (file → partition
  *    values) map against `_metadata.file_path` — no per-partition plan
  *    union, so 10^5 partitions cost a 10^5-row broadcast, not a
  *    10^5-way union;
  *  - data files go to the parquet reader as one multi-path scan:
  *    pushdown / pruning / row-group skipping apply as on any scan.
  */
object DeltaInterop {
  private val mapper = new ObjectMapper()

  // every byte of table state goes through the TableIO seam — local
  // hard-link POSIX by default; object-store deployments swap
  // TableIO.current (see TableIO's scaladoc for the operation mapping)
  private def io: TableIO = TableIO()

  private[sources] val CommitName = "^[0-9]{20}\\.json$".r
  private[sources] def logDir(base: String) = TableIO.join(base, "_delta_log")
  private[sources] def commitName(v: Long) = f"$v%020d.json"
  private def checkpointName(v: Long) = f"$v%020d.checkpoint.parquet"

  /** A deletion-vector descriptor, verbatim from the add/remove action
    * (PROTOCOL.md §Deletion Vector Descriptor Schema). `storageType`:
    * "u" = UUID-named .bin file under the table (pathOrInlineDv =
    * optional prefix + z85 UUID), "i" = inline (pathOrInlineDv = z85 of
    * the DV data), "p" = absolute path to a .bin file. */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
                                offset: Option[Int], sizeInBytes: Int,
                                cardinality: Long) {
    /** Protocol's unique DV id — file identity in log reconciliation is
      * (path, dvId), so replacing a file's DV removes the OLD pair. */
    def uniqueId: String =
      s"$storageType$pathOrInlineDv${offset.map(o => s"@$o").getOrElse("")}"
  }

  /** One live data file: relative path + partition values (strings, as
    * the protocol serializes them; null = null partition value) +
    * optional deletion vector masking dead row positions + the
    * protocol's per-file statistics JSON (`add.stats` — numRecords /
    * minValues / maxValues / nullCount), verbatim, for data skipping. */
  final case class AddFile(path: String, partitionValues: Map[String, String],
                           dv: Option[DvDescriptor] = None,
                           stats: Option[String] = None,
                           // row tracking (protocol §Row Tracking): the
                           // first fresh row id of this file and the
                           // commit version its rows default to — rows
                           // without materialized values resolve as
                           // baseRowId + row_index / this version
                           baseRowId: Option[Long] = None,
                           defaultRowCommitVersion: Option[Long] = None,
                           // protocol §Add File `tags`: opaque per-file
                           // metadata. Liquid clustering keeps its
                           // clustered-state markers here; foreign
                           // writers' tags ride through rewrites
                           tags: Map[String, String] = Map.empty)

  final case class DeltaSnapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[AddFile],
      columnMappingMode: String = "none",
      txnVersions: Map[String, Long] = Map.empty,
      configuration: Map[String, String] = Map.empty,
      // protocol features the log has already declared (reader+writer
      // union) — lets DML writers skip REDUNDANT protocol actions,
      // which would otherwise make every commit look like a metadata
      // change to the OCC reconciler
      protocolFeatures: Set[String] = Set.empty,
      // the LATEST protocol action's exact state (actions REPLACE, not
      // accumulate) — what a protocol-upgrading commit must carry
      // forward, feature by feature: an upgrade that wrote a fixed
      // protocol would silently erase declarations like
      // writerFeatures=["invariants"] for every later reader/writer
      minReaderVersion: Int = 1,
      minWriterVersion: Int = 2,
      readerFeatureSet: Set[String] = Set.empty,
      writerFeatureSet: Set[String] = Set.empty,
      // metaData.id — the table's stable identity; INSERT OVERWRITE
      // replaces contents, not the table, so it must carry this forward
      tableId: Option[String] = None,
      // domainMetadata actions (protocol §Domain Metadata): domain →
      // configuration JSON string; row tracking keeps its row-id
      // high-water mark in domain `delta.rowTracking`
      domains: Map[String, String] = Map.empty) {

    def rowTrackingEnabled: Boolean =
      configuration.get("delta.enableRowTracking").contains("true")

    /** Row-id high-water mark from the `delta.rowTracking` domain
      * (-1 when no id was ever allocated — fresh ids start at 0). */
    def rowIdHighWaterMark: Long =
      domains.get("delta.rowTracking")
        .map(cfg => mapper.readTree(cfg).get("rowIdHighWaterMark").asLong())
        .getOrElse(-1L)
    /** Physical parquet column name for a logical schema field. In
      * `name` mapping mode the protocol stores it in the field's
      * metadata (`delta.columnMapping.physicalName`); otherwise the
      * names coincide. */
    def physicalName(logical: String): String =
      if (columnMappingMode == "none") logical
      else {
        val f = schema(logical)
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else logical
      }

    /** Column-mapping field id (`delta.columnMapping.id`) for a logical
      * field — the id-mode resolution key, matched against the data
      * files' parquet field_id. */
    def fieldId(logical: String): Option[Long] = {
      val f = schema(logical)
      if (f.metadata.contains("delta.columnMapping.id"))
        Some(f.metadata.getLong("delta.columnMapping.id"))
      else None
    }
  }

  // Reader features this engine implements for protocol v3 tables.
  // `columnMapping` also fits inside minReaderVersion 2 via the table
  // property — both routes land in the same read path.
  private val supportedReaderFeatures =
    Set("columnMapping", "timestampNtz", "deletionVectors", "v2Checkpoint",
      // widened columns read through Spark's parquet type widening;
      // both the final and preview feature names gate the same path
      "typeWidening", "typeWidening-preview",
      // vacuumProtocolCheck imposes NO read-time obligation (it gates
      // VACUUM implementations: check the protocol before deleting —
      // which our vacuum does by replaying the snapshot first); tables
      // carrying it (delta-spark writes it alongside v2Checkpoint)
      // must not refuse to read
      "vacuumProtocolCheck")

  /** Above this many total deleted positions the DV anti join stops
    * broadcasting (same bound as graft-log's own DV read path — a table
    * carrying more un-purged deletes than this wants compaction). */
  private val DvBroadcastMaxRows = 4000000L

  // ------------------------------------------------------------- reader

  /** Resolve the table state at `versionAsOf` (head by default) by
    * checkpoint + JSON replay, exactly as the protocol prescribes. */
  /** Commit-tail length at or above which snapshot() fans the JSON
    * fetches over executors as a Spark job instead of a driver loop.
    * Below it the job-submission overhead exceeds the reads. */
  private[sources] def logFanoutThreshold(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.delta.logFanout")
      .map(_.toInt).getOrElse(64)

  def snapshot(spark: SparkSession, base: String,
               versionAsOf: Option[Long] = None): DeltaSnapshot = {
    val dir = logDir(base)
    require(io.isDirectory(dir), s"not a Delta table (no _delta_log): $base")
    val commitFiles = io.list(dir).filter(CommitName.matches).sorted
    require(commitFiles.nonEmpty ||
      io.exists(TableIO.join(dir, "_last_checkpoint")),
      s"empty _delta_log in $base")
    val headVersion = commitFiles.lastOption
      .map(_.stripSuffix(".json").toLong)
    // checkpoint hint (the protocol's _last_checkpoint side file)
    val lastCp = Option(TableIO.join(dir, "_last_checkpoint"))
      .filter(io.exists)
      .map(f => mapper.readTree(io.readString(f)).get("version").asLong())
    val target = versionAsOf
      .orElse(headVersion)
      .orElse(lastCp)
      .getOrElse(throw new IllegalStateException(s"cannot resolve head of $base"))
    versionAsOf.foreach { v =>
      val known = commitFiles.map(_.stripSuffix(".json").toLong).toSet
      require(known.contains(v) || lastCp.contains(v),
        s"version $v not in _delta_log of $base (have ${known.toSeq.sorted})")
    }
    // start from the newest checkpoint at or below target, else version 0
    val cpVersion = lastCp.filter(_ <= target)
    val live = mutable.LinkedHashMap.empty[String, AddFile]
    var schemaJson: Option[String] = None
    var partCols: Seq[String] = Seq.empty
    // streaming-sink idempotence state (protocol §Transaction
    // Identifiers): latest committed version per application id
    val txns = mutable.HashMap.empty[String, Long]
    def applyTxn(t: JsonNode): Unit = {
      val app = t.get("appId").asText(); val v = t.get("version").asLong()
      if (!txns.get(app).exists(_ >= v)) txns(app) = v
    }

    var cmMode = "none"
    var tableConf = Map.empty[String, String]
    var tableId: Option[String] = None
    val protoFeatures = mutable.Set.empty[String]
    // latest protocol action's exact state (replace semantics)
    var minReader = 1; var minWriter = 2
    var readerFeats = Set.empty[String]; var writerFeats = Set.empty[String]
    def applyProtocol(p: JsonNode): Unit = {
      def feats(k: String): Set[String] =
        Option(p.get(k)).filterNot(_.isNull).map(n =>
          (0 until n.size()).map(n.get(_).asText()).toSet).getOrElse(Set.empty)
      readerFeats = feats("readerFeatures")
      writerFeats = feats("writerFeatures")
      protoFeatures ++= readerFeats; protoFeatures ++= writerFeats
      minReader = p.get("minReaderVersion").asInt()
      minWriter = Option(p.get("minWriterVersion")).filterNot(_.isNull)
        .map(_.asInt()).getOrElse(minWriter)
      val r = p.get("minReaderVersion").asInt()
      // v3 gates reads on an explicit readerFeatures list. The
      // protocol-mandated behavior is: read iff every listed feature is
      // implemented, refuse loudly otherwise (silently resurrecting
      // DV-deleted rows would be far worse than an error).
      if (r == 3) {
        val rf = Option(p.get("readerFeatures")).map(n =>
          (0 until n.size()).map(n.get(_).asText()).toSet).getOrElse(Set.empty)
        val missing = rf -- supportedReaderFeatures
        require(missing.isEmpty,
          s"Delta readerFeatures ${missing.mkString(",")} are not implemented " +
          "by this engine (refusing per protocol)")
      } else require(r <= 2,
        s"Delta minReaderVersion=$r is not a protocol version this engine " +
        "implements (refusing per protocol)")
    }
    def applyConfiguration(conf: Map[String, String]): Unit = {
      // column mapping renames the PHYSICAL parquet columns. `name` mode
      // is read by scanning physical names and projecting back to
      // logical ones; `id` mode matches columns by parquet field id
      // (delta.columnMapping.id ↔ the files' parquet field_id), which
      // read() routes through Spark's field-id parquet resolution.
      val mode = conf.getOrElse("delta.columnMapping.mode", "none")
      require(mode == "none" || mode == "name" || mode == "id",
        s"Delta columnMapping.mode=$mode is not a mode the protocol " +
        "defines (refusing)")
      cmMode = mode
      // metaData actions REPLACE the configuration wholesale (protocol
      // semantics) — an empty map must clear prior config, or
      // checkpoint/restore re-persist stale column-mapping state
      tableConf = conf
    }
    def applyMetaData(m: JsonNode): Unit = {
      val conf = Option(m.get("configuration")).map { c =>
        val it = c.fields(); val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }.getOrElse(Map.empty[String, String])
      applyConfiguration(conf)
      tableId = Option(m.get("id")).filterNot(_.isNull).map(_.asText())
      schemaJson = Some(m.get("schemaString").asText())
      val pc = m.get("partitionColumns")
      partCols =
        if (pc == null) Seq.empty
        else (0 until pc.size()).map(i => pc.get(i).asText())
    }
    def parseDv(n: JsonNode): Option[DvDescriptor] =
      Option(n).filterNot(_.isNull).map { d =>
        val st = d.get("storageType").asText()
        require(st == "u" || st == "i" || st == "p",
          s"unknown deletion-vector storageType '$st' (refusing)")
        DvDescriptor(st, d.get("pathOrInlineDv").asText(),
          Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
          d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
      }
    def applyAdd(a: JsonNode): Unit = {
      val pv = a.get("partitionValues")
      val m =
        if (pv == null) Map.empty[String, String]
        else {
          val it = pv.fields(); val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
          }
          b.result()
        }
      val p = a.get("path").asText()
      val tags = Option(a.get("tags")).filterNot(_.isNull).map { t =>
        val it = t.fields(); val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
        }
        b.result()
      }.getOrElse(Map.empty[String, String])
      live += p -> AddFile(p, m, parseDv(a.get("deletionVector")),
        Option(a.get("stats")).filterNot(_.isNull).map(_.asText()),
        Option(a.get("baseRowId")).filterNot(_.isNull).map(_.asLong()),
        Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull)
          .map(_.asLong()),
        tags)
    }
    // domainMetadata actions (protocol §Domain Metadata): per-domain
    // REPLACE semantics; `removed` tombstones the domain
    val domains = mutable.HashMap.empty[String, String]
    def applyDomainMetadata(d: JsonNode): Unit = {
      val name = d.get("domain").asText()
      if (Option(d.get("removed")).exists(_.asBoolean())) domains -= name
      else domains(name) =
        Option(d.get("configuration")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("")
    }
    def applyRemove(r: JsonNode): Unit = {
      // File identity in log reconciliation is (path, dvId): a DV
      // writer removes the (path, oldDv) pair and adds (path, newDv) in
      // ONE commit, in either order. A remove whose dvId does not match
      // the live entry must therefore leave the live entry alone.
      val p = r.get("path").asText()
      val dvId = parseDv(r.get("deletionVector")).map(_.uniqueId)
      live.get(p).foreach { cur =>
        if (cur.dv.map(_.uniqueId) == dvId) live -= p
      }
    }

    // one parquet frame of checkpoint action rows (add / remove /
    // metaData / protocol / txn structs, one non-null per row) applied
    // to the replay state — shared by classic v1 checkpoints, v2
    // checkpoint top-level files and v2 sidecar files (which carry the
    // same struct shapes, file actions only). Returns the `sidecar`
    // action paths when present (v2 top-level only).
    def applyCheckpointFrame(cp: DataFrame): Seq[String] = {
      val cols = cp.columns.toSet
      if (cols.contains("protocol")) {
        val pFields = cp.schema("protocol").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        val pCols = Seq("protocol.minReaderVersion") ++
          (if (pFields.contains("minWriterVersion"))
             Seq("protocol.minWriterVersion") else Nil) ++
          (if (pFields.contains("readerFeatures"))
             Seq("protocol.readerFeatures") else Nil) ++
          (if (pFields.contains("writerFeatures"))
             Seq("protocol.writerFeatures") else Nil)
        cp.select(pCols.head, pCols.tail: _*)
          .where(col("minReaderVersion").isNotNull)
          .collect() // ≤1 row
          .foreach { r =>
            val names = pCols.map(_.stripPrefix("protocol."))
            def at(n: String): Option[Int] =
              Some(names.indexOf(n)).filter(i => i >= 0 && !r.isNullAt(i))
            val node = mapper.createObjectNode()
            node.put("minReaderVersion", r.getInt(0))
            at("minWriterVersion").foreach(i =>
              node.put("minWriterVersion", r.getInt(i)))
            val hasFeatures = at("readerFeatures").map { i =>
              val arr = node.putArray("readerFeatures")
              r.getSeq[String](i).foreach(arr.add)
            }.isDefined
            at("writerFeatures").foreach { i =>
              val arr = node.putArray("writerFeatures")
              r.getSeq[String](i).foreach(arr.add)
            }
            // a v3 protocol is INVALID without its feature list — a
            // checkpoint that lost it must refuse, not silently read
            // with "no features required"
            require(r.getInt(0) < 3 || hasFeatures,
              s"checkpoint of $base records minReaderVersion=${r.getInt(0)} " +
              "with no recoverable readerFeatures — refusing")
            applyProtocol(node)
          }
      }
      if (cols.contains("metaData")) {
        val mdFields = cp.schema("metaData").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        if (mdFields.contains("configuration"))
          cp.select("metaData.configuration")
            .where(col("configuration").isNotNull).collect() // ≤1 row
            .foreach { r =>
              applyConfiguration(Option(r.getMap[String, String](0)).map(_.toMap)
                .getOrElse(Map.empty[String, String]))
            }
        val md = cp.select("metaData.schemaString", "metaData.partitionColumns")
          .where(col("schemaString").isNotNull).collect() // ≤1 row
        md.foreach { r =>
          schemaJson = Some(r.getString(0))
          partCols = Option(r.getSeq[String](1)).getOrElse(Seq.empty)
        }
      }
      if (cols.contains("add")) {
        val addFields = cp.schema("add").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        val hasDv = addFields.contains("deletionVector")
        val hasStats = addFields.contains("stats")
        val hasRowIds = addFields.contains("baseRowId")
        val hasTags = addFields.contains("tags")
        val selCols = Seq("add.path", "add.partitionValues") ++
          (if (hasDv) Seq("add.deletionVector") else Nil) ++
          (if (hasStats) Seq("add.stats") else Nil) ++
          (if (hasRowIds)
             Seq("add.baseRowId", "add.defaultRowCommitVersion") else Nil) ++
          (if (hasTags) Seq("add.tags") else Nil)
        val statsIdx = if (hasDv) 3 else 2
        val rowIdIdx = statsIdx + (if (hasStats) 1 else 0)
        val tagsIdx = rowIdIdx + (if (hasRowIds) 2 else 0)
        cp.select(selCols.head, selCols.tail: _*)
          .where(col("path").isNotNull)
          .collect() // one row per live file — metadata-scale
          .foreach { r =>
            val pv = Option(r.getMap[String, String](1)).map(_.toMap)
              .getOrElse(Map.empty)
            val dv = if (hasDv && !r.isNullAt(2)) {
              val d = r.getStruct(2)
              val names = d.schema.fieldNames
              def idx(n: String) = names.indexOf(n)
              Some(DvDescriptor(d.getString(idx("storageType")),
                d.getString(idx("pathOrInlineDv")),
                if (idx("offset") >= 0 && !d.isNullAt(idx("offset")))
                  Some(d.getInt(idx("offset"))) else None,
                d.getInt(idx("sizeInBytes")), d.getLong(idx("cardinality"))))
            } else None
            val st = if (hasStats && !r.isNullAt(statsIdx))
              Some(r.getString(statsIdx)) else None
            // row-tracking fields MUST survive checkpointing — losing a
            // baseRowId re-mints different row ids on the next read
            val brid = if (hasRowIds && !r.isNullAt(rowIdIdx))
              Some(r.getLong(rowIdIdx)) else None
            val drcv = if (hasRowIds && !r.isNullAt(rowIdIdx + 1))
              Some(r.getLong(rowIdIdx + 1)) else None
            // tags survive checkpointing or clustering state (and any
            // foreign writer's markers) silently resets at compaction
            val tg = if (hasTags && !r.isNullAt(tagsIdx))
              r.getMap[String, String](tagsIdx).toMap
            else Map.empty[String, String]
            live += r.getString(0) -> AddFile(r.getString(0), pv, dv, st,
              brid, drcv, tg)
          }
      }
      if (cols.contains("domainMetadata")) {
        cp.select("domainMetadata.domain", "domainMetadata.configuration")
          .where(col("domain").isNotNull)
          .collect() // one row per domain — metadata-scale
          .foreach(r => domains(r.getString(0)) =
            Option(r.getString(1)).getOrElse(""))
      }
      if (cols.contains("txn")) {
        cp.select("txn.appId", "txn.version")
          .where(col("appId").isNotNull)
          .collect() // one row per streaming app id — metadata-scale
          .foreach { r =>
            val node = mapper.createObjectNode()
            node.put("appId", r.getString(0)); node.put("version", r.getLong(1))
            applyTxn(node)
          }
      }
      if (cols.contains("sidecar"))
        cp.select("sidecar.path").where(col("path").isNotNull)
          .collect().map(_.getString(0)).toSeq // one per sidecar file
      else Seq.empty
    }

    cpVersion.foreach { cv =>
      // classic v1 checkpoint: one file (NNN.checkpoint.parquet) or the
      // multi-part form (NNN.checkpoint.<k>.<n>.parquet) — all parts
      // one logical dataset, read as one scan. V2 checkpoints
      // (protocol §V2 Checkpoint Table Feature, what current OSS
      // writers produce at scale) are UUID-named
      // NNN.checkpoint.<uniqueId>.{parquet|json}: the top-level file
      // carries the non-file actions plus `sidecar` actions naming
      // _delta_log/_sidecars/ parquet files that hold the add/remove
      // file actions.
      val single = TableIO.join(dir, checkpointName(cv))
      val partRe = (f"$cv%020d" + "\\.checkpoint\\.[0-9]{10}\\.[0-9]{10}\\.parquet").r
      val v2Re = (f"$cv%020d" + "\\.checkpoint\\.[0-9A-Za-z_-]+\\.(parquet|json)").r
      val v1Parts = io.list(dir).filter(partRe.matches).sorted
      val sidecarPaths: Seq[String] =
        if (io.exists(single)) applyCheckpointFrame(spark.read.parquet(single))
        else if (v1Parts.nonEmpty)
          applyCheckpointFrame(spark.read.parquet(
            v1Parts.map(TableIO.join(dir, _)): _*))
        else {
          val v2 = io.list(dir).filter(v2Re.matches).sorted
          require(v2.nonEmpty, s"_last_checkpoint names version $cv but no " +
            s"checkpoint parquet found in $dir")
          val top = v2.last // newest uniqueId wins if several attempts exist
          if (top.endsWith(".json")) {
            // JSON top-level form: newline-delimited actions, parsed
            // driver-side (non-file actions + sidecar refs only —
            // metadata-scale by the spec's own design)
            val sidecars = mutable.Buffer.empty[String]
            io.readLines(TableIO.join(dir, top)).foreach { line =>
              if (line.nonEmpty) {
                val n = mapper.readTree(line)
                Option(n.get("protocol")).foreach(applyProtocol)
                Option(n.get("metaData")).foreach(applyMetaData)
                Option(n.get("add")).foreach(applyAdd)
                Option(n.get("remove")).foreach(applyRemove)
                Option(n.get("txn")).foreach(applyTxn)
                Option(n.get("domainMetadata")).foreach(applyDomainMetadata)
                Option(n.get("sidecar")).foreach(s =>
                  sidecars += s.get("path").asText())
              }
            }
            sidecars.toSeq
          } else applyCheckpointFrame(
            spark.read.parquet(TableIO.join(dir, top)))
        }
      if (sidecarPaths.nonEmpty) {
        // sidecar files live under _delta_log/_sidecars/ (relative
        // paths; absolute ones resolve as given) and hold file actions
        // with the same struct shapes as a v1 checkpoint
        val resolved = sidecarPaths.map { p =>
          if (p.startsWith("/")) p
          else TableIO.join(TableIO.join(dir, "_sidecars"), p)
        }
        resolved.foreach(f => require(io.exists(f),
          s"v2 checkpoint of $base names sidecar $f which does " +
          "not exist — refusing (the live file set would be incomplete)"))
        applyCheckpointFrame(spark.read.parquet(resolved: _*))
      }
    }

    val replayFrom = cpVersion.map(_ + 1).getOrElse(0L)
    val tail = commitFiles.filter { f =>
      val v = f.stripSuffix(".json").toLong
      v >= replayFrom && v <= target
    }
    // log-tail FETCH fans over executors above a threshold: reading N
    // commit JSONs is one storage round trip each and independent per
    // file — at 10k+ commits between checkpoints a driver loop
    // serializes on IO latency. The APPLY stays an ordered driver fold
    // (the protocol's reconciliation is a state machine over versions);
    // the shipped lines are commit-metadata scale, far below the
    // checkpoint frame already read above.
    val tailLines: Seq[Seq[String]] =
      if (tail.size < logFanoutThreshold(spark))
        tail.map(f => io.readLines(TableIO.join(dir, f)))
      else {
        val paths = tail.map(f => TableIO.join(dir, f))
        val slices = math.max(1, math.min(paths.size,
          spark.sparkContext.defaultParallelism * 4))
        spark.sparkContext.parallelize(paths.zipWithIndex, slices)
          .map { case (p, i) => (i, TableIO().readLines(p)) }
          .collect().sortBy(_._1).map(_._2).toSeq
      }
    tailLines.foreach { lines =>
      lines.foreach { line =>
        if (line.nonEmpty) {
          val n = mapper.readTree(line)
          Option(n.get("protocol")).foreach(applyProtocol)
          Option(n.get("metaData")).foreach(applyMetaData)
          Option(n.get("add")).foreach(applyAdd)
          Option(n.get("remove")).foreach(applyRemove)
          Option(n.get("txn")).foreach(applyTxn)
          Option(n.get("domainMetadata")).foreach(applyDomainMetadata)
        }
      }
    }
    val schema = DataType.fromJson(schemaJson.getOrElse(
      throw new IllegalStateException(s"no metaData action found in $base")))
      .asInstanceOf[StructType]
    DeltaSnapshot(target, schema, partCols, live.values.toSeq, cmMode,
      txns.toMap, tableConf, protoFeatures.toSet,
      minReader, minWriter, readerFeats, writerFeats, tableId,
      domains.toMap)
  }

  /** DESCRIBE HISTORY: one row per JSON commit still in the log —
    * (version, operation from commitInfo — null for writers that omit
    * it — adds, removes, and the commit timestamp from file mtime, the
    * protocol's own time-travel clock). Driver-side parse, bounded by
    * the log tail like any replay; checkpointed-away history is gone
    * here exactly as it is in delta-spark. */
  def history(spark: SparkSession, base: String): DataFrame = {
    val dir = logDir(base)
    require(io.isDirectory(dir), s"not a Delta table (no _delta_log): $base")
    val rows = io.list(dir).filter(CommitName.matches).sorted
      .map { f =>
        var op: String = null
        var adds = 0L; var removes = 0L
        var ict: Option[Long] = None
        var outRows: Option[Long] = None
        io.readLines(TableIO.join(dir, f)).foreach { line =>
          if (line.nonEmpty) {
            val n = mapper.readTree(line)
            Option(n.get("commitInfo")).foreach { ci =>
              Option(ci.get("operation")).foreach(o => op = o.asText())
              Option(ci.get("inCommitTimestamp"))
                .foreach(t => ict = Some(t.asLong()))
              Option(ci.get("operationMetrics")).flatMap(m =>
                Option(m.get("numOutputRows"))).foreach(r =>
                outRows = Some(r.asText().toLong))
            }
            if (n.has("add")) adds += 1
            if (n.has("remove")) removes += 1
          }
        }
        (f.stripSuffix(".json").toLong, op, adds, removes,
          outRows.map(Long.box).orNull.asInstanceOf[java.lang.Long],
          new java.sql.Timestamp(ict.getOrElse(
            io.lastModified(TableIO.join(dir, f)))))
      }
    import spark.implicits._
    rows.toDF("version", "operation", "n_adds", "n_removes",
      "num_output_rows", "timestamp")
  }

  /** Incremental consumption: every row APPENDED after `fromVersion`
    * (exclusive), tagged `_commit_version` — the batch form of
    * delta-spark's streaming-source semantics, and the contract a
    * downstream incremental ETL needs: each version's new files are
    * read once, `dataChange=false` commits (OPTIMIZE/RESTORE shuffles
    * of existing rows) are SKIPPED so rewrites never re-deliver data,
    * and a commit that removed or DV-masked data in the range is
    * REFUSED loudly (the same wall delta-spark's source raises without
    * ignoreChanges — silently treating a delete's survivors as fresh
    * appends would corrupt every downstream aggregate; consumers that
    * need row-level deletes should read `DeltaDml.readChangeFeed`,
    * which handles every commit kind exactly). Per-version
    * scans union driver-side, bounded by the version count; each scan
    * is a normal distributed parquet read. */
  def changesSince(spark: SparkSession, base: String,
                   fromVersion: Long): DataFrame = {
    val head = snapshot(spark, base)
    require(fromVersion <= head.version,
      s"fromVersion $fromVersion is beyond head ${head.version} of $base")
    val dir = logDir(base)
    val perVersion = io.list(dir).filter(CommitName.matches).sorted
      .map(f => (f.stripSuffix(".json").toLong, TableIO.join(dir, f)))
      .filter { case (v, _) => v > fromVersion && v <= head.version }
    require(perVersion.map(_._1).toSet ==
      ((fromVersion + 1) to head.version).toSet,
      s"log of $base is missing commits in ($fromVersion, ${head.version}] " +
      "(checkpoint-compacted?) — incremental read cannot be gap-free")
    val parts = perVersion.flatMap { case (v, f) =>
      val adds = mutable.ArrayBuffer.empty[AddFile]
      io.readLines(f).foreach { line =>
        if (line.nonEmpty) {
          val n = mapper.readTree(line)
          Option(n.get("remove")).foreach { r =>
            require(!Option(r.get("dataChange")).forall(_.asBoolean(true)),
              s"version $v of $base removed data — incremental append-only " +
              "read refuses (reprocess from a snapshot instead)")
          }
          Option(n.get("add")).foreach { a =>
            if (Option(a.get("dataChange")).forall(_.asBoolean(true))) {
              require(Option(a.get("deletionVector")).forall(_.isNull),
                s"version $v of $base rewrote rows under a deletion vector " +
                "— incremental append-only read refuses")
              val pv = Option(a.get("partitionValues")).map { m =>
                val it = m.fields(); val b = Map.newBuilder[String, String]
                while (it.hasNext) {
                  val e = it.next()
                  b += e.getKey ->
                    (if (e.getValue.isNull) null else e.getValue.asText())
                }
                b.result()
              }.getOrElse(Map.empty[String, String])
              adds += AddFile(a.get("path").asText(), pv,
                stats = Option(a.get("stats")).filterNot(_.isNull).map(_.asText()))
            }
          }
        }
      }
      if (adds.isEmpty) None
      else Some(assembleScan(spark, base, head.copy(version = v,
          files = adds.toSeq))
        .withColumn("_commit_version", lit(v)))
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val empty = StructType(head.schema.fields :+
        StructField("_commit_version", LongType, nullable = false))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  /** Timestamp time travel: the newest version whose commit landed at or
    * before `ts` — per protocol, a commit's timestamp is its log file's
    * modification time UNLESS the table writes in-commit timestamps,
    * which are then authoritative (commitTimestamp resolves per file:
    * mtime before the enablement boundary, ICT after). Driver-side
    * metadata reads only; no data I/O. */
  def versionAtTimestamp(base: String, tsMillis: Long): Long = {
    val candidates = io.list(logDir(base))
      .filter(CommitName.matches)
      .filter(f => commitTimestamp(base, f) <= tsMillis)
    require(candidates.nonEmpty,
      s"no Delta commit at or before ${new java.sql.Timestamp(tsMillis)} in $base")
    candidates.map(_.stripSuffix(".json").toLong).max
  }

  /** Read a Delta table into a DataFrame (head, or `versionAsOf`, or
    * `timestampAsOf` — version wins if both are given).
    *
    * `partitionFilters` (column → required serialized value) prune the
    * FILE LIST from the log before any scan is planned — the metadata
    * decision real Delta readers make. Without it, a predicate on a
    * partition column only filters rows post-scan (the values are
    * re-attached after the parquet read), which is the wrong shape at
    * 100 TB: a one-partition query must open one partition's files, not
    * every file. Null matches are expressed as `null` values in the map. */
  def read(spark: SparkSession, base: String,
           versionAsOf: Option[Long] = None,
           timestampAsOf: Option[Long] = None,
           partitionFilters: Map[String, String] = Map.empty): DataFrame = {
    val version = versionAsOf.orElse(
      timestampAsOf.map(versionAtTimestamp(base, _)))
    val snap0 = snapshot(spark, base, version)
    assembleScan(spark, base, prunePartitions(snap0, partitionFilters, base))
  }

  /** Read with a range predicate on `column`, pruning the file list by
    * the log's per-file `add.stats` min/max BEFORE scan planning — Delta
    * data skipping, the metadata decision that makes a narrow range
    * query on a 100 TB table open a handful of files. Files without
    * stats (or without stats for `column`) are conservatively kept, and
    * the predicate is also applied to rows: pruning is a performance
    * decision, never a correctness one. Bounds are inclusive; pass None
    * for an open end. */
  def readRange(spark: SparkSession, base: String, column: String,
                lo: Option[Any], hi: Option[Any],
                versionAsOf: Option[Long] = None,
                timestampAsOf: Option[Long] = None,
                partitionFilters: Map[String, String] = Map.empty): DataFrame = {
    val version = versionAsOf.orElse(
      timestampAsOf.map(versionAtTimestamp(base, _)))
    val snap0 = prunePartitions(snapshot(spark, base, version),
      partitionFilters, base)
    val dt = snap0.schema(column).dataType
    val phys = snap0.physicalName(column)
    val kept = snap0.files.filter(f => statsAdmitRange(f, phys, dt, lo, hi))
    val scan = assembleScan(spark, base, snap0.copy(files = kept))
    val c = col(column)
    val bounded = (lo.map(v => c >= lit(v)).toSeq ++ hi.map(v => c <= lit(v)))
      .reduceOption(_ && _).getOrElse(lit(true))
    scan.where(bounded)
  }

  private def prunePartitions(snap0: DeltaSnapshot,
                              partitionFilters: Map[String, String],
                              base: String): DeltaSnapshot = {
    partitionFilters.keys.foreach(k => require(
      snap0.partitionColumns.contains(k),
      s"'$k' is not a partition column of $base (have ${snap0.partitionColumns})"))
    // partitionValues are keyed by PHYSICAL column names when column
    // mapping is on (PROTOCOL.md writer requirements) — resolve through
    // the mapping, tolerating logical-keyed values from older writers
    def pvOf(f: AddFile, logical: String): Option[String] =
      f.partitionValues.get(snap0.physicalName(logical))
        .orElse(f.partitionValues.get(logical))
    if (partitionFilters.isEmpty) snap0
    else snap0.copy(files = snap0.files.filter(f =>
      partitionFilters.forall { case (k, v) => pvOf(f, k).contains(v) }))
  }

  /** The live rows of `files` at the PHYSICAL level — the one
    * merge-on-read scan every Delta read and rewrite goes through:
    * physical column names, partition columns absent, deletion vectors
    * subtracted. With keepCoords every row also carries `__delta_file`
    * (normalized on-disk path) and `__delta_pos` (raw parquet
    * row_index, the DV coordinate system). `extraCols` are physical-
    * named columns OUTSIDE the table schema, read as-is (null for files
    * lacking them) — the row-tracking materialized columns. */
  private def physicalScan(spark: SparkSession, base: String,
                           snap: DeltaSnapshot, files: Seq[AddFile],
                           keepCoords: Boolean,
                           extraCols: Seq[StructField] = Seq.empty): DataFrame = {
    // Column resolution against the data files, per mapping mode:
    //  - `name`: scan by the PHYSICAL parquet column names;
    //  - `id`: the read schema also carries `parquet.field.id` metadata
    //    (= delta.columnMapping.id) — Spark's parquet reader then
    //    matches columns by the files' field_id, so physical names
    //    (which id-mode files may have renamed arbitrarily) never
    //    matter. The extraCols have no mapping id by construction and
    //    resolve by name in both modes (per-field fallback).
    val idMode = snap.columnMappingMode == "id"
    if (idMode)
      // inert for any schema without field-id metadata; same conf the
      // Iceberg read path uses for the identical contract
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val dataSchema = StructType(snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
      .map { f =>
        // `_change_type` is a CDF metadata column OUTSIDE the mapped
        // table schema — `_change_data` files carry it by name in both
        // mapping modes (delta-spark's shape), so it resolves by name
        if (f.name == "_change_type") f
        else if (!idMode) f.copy(name = snap.physicalName(f.name))
        else {
          val id = snap.fieldId(f.name).getOrElse(throw new IllegalStateException(
            s"columnMapping.mode=id but field '${f.name}' has no " +
            "delta.columnMapping.id — corrupt metadata (refusing)"))
          f.copy(name = snap.physicalName(f.name),
            metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("parquet.field.id", id).build())
        }
      } ++ extraCols.map(_.copy(nullable = true)))
    // add.path is stored percent-encoded per the protocol — decode for
    // on-disk resolution (a literal-'%' writer is tolerated: malformed
    // escapes pass through percentDecode unchanged)
    val scan = spark.read.schema(dataSchema)
      .parquet(files.map(f => resolveDataPath(base, f.path)): _*)
    val dvFiles = files.filter(_.dv.exists(_.cardinality > 0))
    // a plain scan stays metadata-free
    if (!keepCoords && dvFiles.isEmpty) return scan
    // coordinates must be captured while `_metadata` is reachable
    val coords = scan.withColumn("__delta_file", PathCodec.metadataFileKey)
      .withColumn("__delta_pos", col("_metadata.row_index"))
    // Merge-on-read: subtract each file's deletion vector by one anti
    // join on (file, row_index) — the coordinate system DVs address.
    // DV decode is driver-side and bounded by total DV cardinality
    // (metadata scale; the join side stops broadcasting past the same
    // bound graft-log uses).
    val live = if (dvFiles.isEmpty) coords else {
      import spark.implicits._
      val deleted: Seq[(String, Long)] = dvFiles.flatMap { f =>
        val d = f.dv.get
        val positions = resolveDvPositions(base, d)
        require(positions.length.toLong == d.cardinality,
          s"deletion vector of ${f.path} decodes ${positions.length} positions " +
          s"but declares cardinality ${d.cardinality} — corrupt DV (refusing)")
        val key = fileKey(base, f)
        positions.map(p => (key, p))
      }
      val dvDf = deleted.toDF("__delta_file", "__delta_pos")
      val dvSide = if (deleted.size <= DvBroadcastMaxRows) broadcast(dvDf) else dvDf
      coords.join(dvSide, Seq("__delta_file", "__delta_pos"), "left_anti")
    }
    if (keepCoords) live else live.drop("__delta_file", "__delta_pos")
  }

  /** The normalized on-disk identity of a data file — the
    * `__delta_file` value its scan rows carry. */
  private def fileKey(base: String, f: AddFile): String =
    PathCodec.metadataPathKey(resolveDataFile(base, f.path))

  /** Plan the scan for a (possibly file-pruned) snapshot: the physical
    * scan, partition-value re-attachment, and the projection back to
    * logical column names. */
  private[sources] def assembleScan(spark: SparkSession, base: String,
                                    snap: DeltaSnapshot,
                                    keepCoords: Boolean = false,
                                    // physical-named columns OUTSIDE the
                                    // table schema to read as-is (null
                                    // for files lacking them) — the
                                    // row-tracking materialized columns
                                    extraCols: Seq[StructField] = Seq.empty)
  : DataFrame = {
    def pvOf(f: AddFile, logical: String): Option[String] =
      f.partitionValues.get(snap.physicalName(logical))
        .orElse(f.partitionValues.get(logical))
    // with keepCoords the caller gets two extra columns — `__delta_file`
    // and `__delta_pos` — for row-level DML
    val outSchema = StructType(
      (if (!keepCoords) snap.schema.fields
       else snap.schema.fields ++ Seq(
         StructField("__delta_file", StringType),
         StructField("__delta_pos", LongType))) ++
      extraCols.map(_.copy(nullable = true)))
    if (snap.files.isEmpty) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    // partition re-attachment joins on the file identity
    val scan = physicalScan(spark, base, snap, snap.files,
      keepCoords || snap.partitionColumns.nonEmpty, extraCols)
    val coordCols: Seq[org.apache.spark.sql.Column] =
      (if (keepCoords) Seq(col("__delta_file"), col("__delta_pos"))
       else Seq.empty) ++ extraCols.map(f => col(f.name))
    def logical(n: String): org.apache.spark.sql.Column =
      if (snap.partitionColumns.contains(n)) col(n)
      else col(snap.physicalName(n)).as(n)
    if (snap.partitionColumns.isEmpty)
      scan.select(snap.schema.fieldNames.map(logical) ++ coordCols: _*)
    else {
      import spark.implicits._
      // (file → partition values) as a broadcast map keyed by the FULL
      // normalized path, not the basename: real Spark/Delta writers
      // reuse identical basenames (part-00000-<jobUUID>.c000.parquet)
      // across partition directories of one job, so a basename key
      // silently duplicates rows and misassigns partition values on
      // collision. One join re-attaches partition columns to every row.
      val keyed = snap.files.map(f =>
        (fileKey(base, f), snap.partitionColumns.map(c => pvOf(f, c).orNull)))
      require(keyed.map(_._1).distinct.size == keyed.size,
        s"two add.path entries of $base alias to one on-disk file — refusing " +
        "(partition re-attachment would double-count)")
      val pvDf = keyed.toDF("__delta_file", "__pv")
      val joined = scan.join(broadcast(pvDf), Seq("__delta_file"))
      // partition values serialize as strings; cast back per the schema
      val withParts = snap.partitionColumns.zipWithIndex.foldLeft(joined) {
        case (df, (c, i)) =>
          df.withColumn(c, element_at(col("__pv"), i + 1)
            .cast(snap.schema(c).dataType))
      }
      withParts.select(snap.schema.fieldNames.map(logical) ++ coordCols: _*)
    }
  }

  // ------------------------------------------------- data skipping (stats)

  /** Conservative admit test of one file's `add.stats` against an
    * inclusive [lo, hi] range on physical column `phys` of type `dt`:
    * drop the file only when its recorded [min, max] provably excludes
    * the range (or it records zero rows). Missing/unparseable stats, a
    * stats entry the type can't compare, or an uncovered column all KEEP
    * the file — pruning is never allowed to change an answer. */
  private[sources] def statsAdmitRange(f: AddFile, phys: String, dt: DataType,
                              lo: Option[Any], hi: Option[Any]): Boolean =
    f.stats.flatMap(js =>
      try Some(mapper.readTree(js)) catch { case _: Exception => None }
    ).forall { n =>
      if (Option(n.get("numRecords")).exists(v => v.isNumber && v.asLong() == 0L))
        false
      else {
        val mn = Option(n.get("minValues")).flatMap(v => Option(v.get(phys)))
          .filterNot(_.isNull)
        val mx = Option(n.get("maxValues")).flatMap(v => Option(v.get(phys)))
          .filterNot(_.isNull)
        (mn, mx) match {
          case (Some(a), Some(b)) =>
            // keep iff max >= lo AND min <= hi (unknown compare → keep)
            lo.flatMap(l => cmpStat(dt, b, l)).forall(_ >= 0) &&
              hi.flatMap(h => cmpStat(dt, a, h)).forall(_ <= 0)
          case _ => true
        }
      }
    }

  /** Compare a stats JSON value against a caller bound in `dt`'s order.
    * None = not comparable (caller keeps the file). */
  private def cmpStat(dt: DataType, stat: JsonNode, bound: Any): Option[Int] = {
    def instantOf(s: String): Option[java.time.Instant] =
      try Some(java.time.Instant.parse(s))
      catch { case _: Exception =>
        try Some(java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC))
        catch { case _: Exception => None } }
    dt match {
      case _: NumericType =>
        // Jackson's decimalValue() returns ZERO (not an exception) for
        // non-numeric nodes — comparing that would prune files that
        // hold matching rows. Numbers compare directly; numeric-looking
        // STRINGS (some writers quote their stats) parse; anything else
        // is not comparable and the caller keeps the file.
        val sv: Option[java.math.BigDecimal] =
          if (stat.isNumber) Some(stat.decimalValue())
          else if (stat.isTextual)
            try Some(new java.math.BigDecimal(stat.asText().trim))
            catch { case _: Exception => None }
          else None
        sv.flatMap { s =>
          try Some(s.compareTo(new java.math.BigDecimal(bound.toString)))
          catch { case _: Exception => None }
        }
      case StringType if stat.isTextual =>
        Some(stat.asText().compareTo(bound.toString))
      case DateType if stat.isTextual =>
        // ISO yyyy-MM-dd is fixed-width: lexicographic == chronological
        val b = bound match {
          case d: java.sql.Date => d.toString
          case d: java.time.LocalDate => d.toString
          case s: String => s
          case _ => return None
        }
        Some(stat.asText().compareTo(b))
      case TimestampType | TimestampNTZType if stat.isTextual =>
        // parse both sides (writers vary in fraction width / zone form)
        val sv = instantOf(stat.asText())
        val bv = bound match {
          case t: java.sql.Timestamp => Some(t.toInstant)
          case i: java.time.Instant => Some(i)
          case s: String => instantOf(s)
          case _ => None
        }
        for (a <- sv; b <- bv) yield a.compareTo(b)
      case _ => None
    }
  }

  /** Decode a deletion vector's positions per its storage type:
    * inline z85 data, a UUID-derived `.bin` under the table root, or an
    * absolute-path `.bin`. */
  private[sources] def resolveDvPositions(base: String, d: DvDescriptor): Array[Long] =
    d.storageType match {
      case "i" =>
        // z85 is 4-byte aligned; sizeInBytes carries the true length
        DeletionVectors.decodeDvData(
          DeletionVectors.z85DecodeBytes(d.pathOrInlineDv).take(d.sizeInBytes))
      case "u" =>
        val (prefix, uuid) = DeletionVectors.decodeUuid(d.pathOrInlineDv)
        val dir = if (prefix.isEmpty) base else TableIO.join(base, prefix)
        val p = TableIO.join(dir, s"deletion_vector_$uuid.bin")
        DeletionVectors.readDvBlob(io.readBytes(p), d.offset.getOrElse(1), p)
      case "p" =>
        DeletionVectors.readDvBlob(io.readBytes(d.pathOrInlineDv),
          d.offset.getOrElse(1), d.pathOrInlineDv)
      case other =>
        throw new IllegalArgumentException(s"deletion-vector storageType '$other'")
    }

  /** The FRAMED blob bytes of a deletion vector —
    * [4B BE size][magic+bitmap][4B BE CRC-32] — exactly as stored. This
    * framing is byte-identical to an Iceberg v3 puffin
    * `deletion-vector-v1` blob (the v3 spec adopted Delta's), so
    * CONVERT carries vectors verbatim: no decode, no re-serialize. */
  private[sources] def resolveDvBlobFrame(base: String,
                                          d: DvDescriptor): Array[Byte] =
    d.storageType match {
      case "i" =>
        DeletionVectors.frameDvData(
          DeletionVectors.z85DecodeBytes(d.pathOrInlineDv)
            .take(d.sizeInBytes))
      case "u" =>
        val (prefix, uuid) = DeletionVectors.decodeUuid(d.pathOrInlineDv)
        val dir = if (prefix.isEmpty) base else TableIO.join(base, prefix)
        val p = TableIO.join(dir, s"deletion_vector_$uuid.bin")
        val off = d.offset.getOrElse(1)
        io.readBytes(p).slice(off, off + 4 + d.sizeInBytes + 4)
      case "p" =>
        val off = d.offset.getOrElse(1)
        io.readBytes(d.pathOrInlineDv).slice(off, off + 4 + d.sizeInBytes + 4)
      case other =>
        throw new IllegalArgumentException(s"deletion-vector storageType '$other'")
    }

  // ------------------------------------------------------------- writer

  /** Stage a frame's rows as uniquely-named parquet files under `base`
    * (partition columns EXCLUDED from the data files, per protocol when
    * `partitionBy` is set) and return add-action (path, partitionValues)
    * pairs.
    *
    * `config` is the table's (or the definition-being-written's)
    * configuration: when `delta.autoOptimize.optimizeWrite` is true, a
    * partitioned staging REBALANCEs on the partition columns first —
    * without it every input task fans out a file per partition value
    * it holds (1000 tasks × 100 partitions = 100k small files per
    * write at cluster scale); with it each partition value's rows
    * co-locate, small values share tasks under AQE, and a skewed
    * value still splits at the advisory partition size (no
    * one-task-per-partition straggler). Default off, like delta-spark. */
  private[sources] def stageAdds(df: DataFrame, base: String,
                        partitionBy: Seq[String],
                        config: Map[String, String] = Map.empty): Seq[AddFile] = {
    io.mkdirs(base)
    val scratch = TableIO.join(base, s".stage_${UUID.randomUUID()}")
    if (partitionBy.isEmpty) {
      val id = UUID.randomUUID().toString
      StagedFiles.publish(scratch)(df.write.mode("overwrite").parquet(_)) { p =>
        val name = s"$id-${p.index}.parquet"
        io.move(p.path, TableIO.join(base, name))
        AddFile(name, Map.empty)
      }
    } else {
      val toWrite =
        if (config.get("delta.autoOptimize.optimizeWrite").contains("true"))
          df.hint("rebalance", partitionBy.map(col): _*)
        else df
      // hive-style dirs <col>=<val>/part-*.parquet → add actions with
      // explicit partitionValues (the protocol's source of truth; the
      // directory layout is just convention)
      StagedFiles.publish(scratch)(toWrite.write.mode("overwrite")
          .partitionBy(partitionBy: _*).parquet(_)) { p =>
        val pv = Map(p.partition.map { case (k, v) =>
          k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v) }: _*)
        // on-disk layout: Hive-escaped dir names; logged add.path: the
        // RFC percent-encoding of that on-disk relative path (the
        // protocol's contract for `path`)
        val rel = pv.map { case (k, v) =>
          s"$k=${PathCodec.escapePathName(if (v == null) "__HIVE_DEFAULT_PARTITION__" else v)}"
        }.mkString("/") + s"/${UUID.randomUUID()}.parquet"
        io.mkdirs(TableIO.join(base, rel.split("/").dropRight(1).mkString("/")))
        io.move(p.path, TableIO.join(base, rel))
        AddFile(PathCodec.percentEncodePath(rel), pv)
      }
    }
  }

  /** Collect per-file `add.stats` (numRecords / minValues / maxValues /
    * nullCount) for freshly staged files with ONE aggregate scan grouped
    * by `_metadata.file_path` — the statistics a conformant Delta writer
    * records, and the input to readRange's data skipping. `dataFields`
    * is the files' physical schema (partition columns excluded). A
    * production writer folds this into the write itself; the one extra
    * pass here is bounded by the staged data, and stats keys come out in
    * PHYSICAL column names (the protocol's contract under column
    * mapping) because the staged frame already carries them. */
  private[sources] def collectAddStats(spark: SparkSession, base: String,
                              adds: Seq[AddFile],
                              dataFields: StructType): Seq[AddFile] = {
    if (adds.isEmpty) return adds
    val statCols = dataFields.fields
      .filter(f => StagedFiles.orderable(f.dataType)).map(_.name).toSeq
    val byFile = StagedFiles.perFile(spark,
      adds.map(a => resolveDataPath(base, a.path)), Some(dataFields), statCols)
    // JSON-encode one stat value; false = not representable (omit)
    def put(o: com.fasterxml.jackson.databind.node.ObjectNode,
            name: String, v: Any): Boolean = v match {
      case null => false
      case i: java.lang.Integer => o.put(name, i.toLong); true
      case l: java.lang.Long => o.put(name, l.longValue()); true
      case s: java.lang.Short => o.put(name, s.toLong); true
      case b: java.lang.Byte => o.put(name, b.toLong); true
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) false else { o.put(name, d.doubleValue()); true }
      case f2: java.lang.Float =>
        if (f2.isNaN || f2.isInfinite) false else { o.put(name, f2.toDouble); true }
      case d: java.math.BigDecimal => o.put(name, d); true
      case s: String =>
        // long strings (e.g. document text) would bloat the log, and a
        // truncated max is NOT an upper bound — omit rather than lie
        if (s.length <= 64) { o.put(name, s); true } else false
      case d: java.sql.Date => o.put(name, d.toString); true
      case t: java.sql.Timestamp =>
        o.put(name, t.toInstant.toString); true
      case ldt: java.time.LocalDateTime => o.put(name, ldt.toString); true
      case _ => false
    }
    adds.map { a =>
      byFile.get(resolveDataPath(base, a.path)).map { fa =>
        val root = mapper.createObjectNode()
        root.put("numRecords", fa.rows)
        val mnO = mapper.createObjectNode(); val mxO = mapper.createObjectNode()
        val ncO = mapper.createObjectNode()
        statCols.foreach { c =>
          val ca = fa.cols(c)
          val probe = mapper.createObjectNode()
          // min and max must land together or not at all — a one-sided
          // bound would make the admit test asymmetric
          if (put(probe, "mn", ca.min) && put(probe, "mx", ca.max)) {
            mnO.set[JsonNode](c, probe.get("mn"))
            mxO.set[JsonNode](c, probe.get("mx"))
          }
          ncO.put(c, fa.rows - ca.nonNull)
        }
        root.set[JsonNode]("minValues", mnO)
        root.set[JsonNode]("maxValues", mxO)
        root.set[JsonNode]("nullCount", ncO)
        a.copy(stats = Some(mapper.writeValueAsString(root)))
      }.getOrElse(a)
    }
  }

  /** The audit action delta-spark writes first in every commit; readers
    * that don't know it skip it (ours included). `timestamp` 0 keeps
    * fixtures byte-deterministic — history() timestamps come from file
    * mtime, the same source the protocol prescribes for time travel —
    * EXCEPT on in-commit-timestamp tables, where the protocol makes
    * `inCommitTimestamp` authoritative and mandatory. */
  /** `commitInfo.operationMetrics` derived from the commit's own
    * actions (delta-spark's audit surface): added/removed file counts,
    * output bytes, and — when every add carries stats — output rows.
    * Metadata-only: counts what the commit writes, reads nothing. */
  private def operationMetricsOf(lines: Seq[String])
  : Map[String, String] = {
    var nAdd = 0; var nRemove = 0; var bytes = 0L
    var rows = 0L; var rowsKnown = true
    lines.foreach { l =>
      try {
        val n = mapper.readTree(l)
        Option(n.get("add")).foreach { a =>
          nAdd += 1
          Option(a.get("size")).foreach(s => bytes += s.asLong())
          val r = Option(a.get("stats")).flatMap { s =>
            try Option(mapper.readTree(s.asText()).get("numRecords"))
              .map(_.asLong())
            catch { case _: Exception => None }
          }
          r match { case Some(v) => rows += v; case None => rowsKnown = false }
        }
        if (n.has("remove")) nRemove += 1
      } catch { case _: Exception => }
    }
    if (nAdd == 0 && nRemove == 0) Map.empty
    else Map("numFiles" -> nAdd.toString,
      "numOutputBytes" -> bytes.toString,
      "numRemovedFiles" -> nRemove.toString) ++
      (if (rowsKnown && nAdd > 0)
        Map("numOutputRows" -> rows.toString) else Map.empty)
  }

  private def commitInfoJson(operation: String, ict: Option[Long],
                             metrics: Map[String, String] = Map.empty)
  : String = {
    val node = mapper.createObjectNode()
    val ci = node.putObject("commitInfo")
    ci.put("timestamp", ict.getOrElse(0L))
    ict.foreach(t => ci.put("inCommitTimestamp", t))
    ci.put("operation", if (operation.isEmpty) "WRITE" else operation)
    ci.putObject("operationParameters")
    if (metrics.nonEmpty) {
      val om = ci.putObject("operationMetrics")
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) => om.put(k, v) }
    }
    mapper.writeValueAsString(node)
  }

  /** Injectable clock for in-commit timestamps (deterministic tests). */
  @volatile private var ictClock: () => Long = () => System.currentTimeMillis()
  def withIctClock[A](clock: () => Long)(body: => A): A = {
    val prior = ictClock; ictClock = clock
    try body finally ictClock = prior
  }

  /** The previous commit's inCommitTimestamp, if the table writes them
    * (protocol §In-Commit Timestamps: once enabled, EVERY later commit
    * carries one — so the predecessor's presence IS the enablement
    * check; one small JSON read, no log replay). */
  private def prevIct(base: String, version: Long): Option[Long] = {
    if (version == 0) return None
    val f = TableIO.join(logDir(base), commitName(version - 1))
    if (!io.exists(f)) return None
    io.readLines(f).headOption.flatMap { line =>
      try Option(mapper.readTree(line).get("commitInfo"))
        .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong()))
      catch { case _: Exception => None }
    }
  }

  private[sources] def writeCommit(base: String, version: Long, lines0: Seq[String],
                          operation: String = "",
                          ictOverride: Option[Long] = None,
                          allowMirror: Boolean = false): Unit = {
    // a Delta MIRROR of an Iceberg table (marker beside the log) is
    // read-only on the Delta side: a commit here would diverge from
    // the Iceberg truth and be erased by the next sync. One existence
    // probe — the single choke point every Delta commit passes.
    if (!allowMirror && isIcebergMirror(base))
      throw new IllegalStateException(
        s"$base is a Delta mirror of the Iceberg table at the same " +
        "location — read-only on the Delta side; write through Iceberg " +
        "and the sync republishes")
    // in-commit timestamps: strictly monotone, clock-or-predecessor+1
    // (a stalled or backwards clock must not break the ordering the
    // protocol's timestamp time travel relies on)
    val ict: Option[Long] = ictOverride.orElse(
      prevIct(base, version).map(p => math.max(ictClock(), p + 1)))
    val lines =
      if (operation.isEmpty && ict.isEmpty) lines0
      else commitInfoJson(operation, ict, operationMetricsOf(lines0)) +: lines0
    val dir = logDir(base); io.mkdirs(dir)
    val tmp = TableIO.join(dir, s".tmp_${UUID.randomUUID()}.json")
    io.writeString(tmp, lines.mkString("", "\n", "\n"))
    // atomic put-if-absent = the commit (Delta's log store contract)
    if (!io.putIfAbsent(tmp, TableIO.join(dir, commitName(version))))
      throw new java.util.ConcurrentModificationException(
        s"delta commit $version already exists in $base")
    // UniForm hook: mark the base so the statement layer's drain can
    // republish the Iceberg mirror. Only a metaData-carrying commit
    // can flip the uniform property, so the drain skips
    // known-not-uniform bases with zero I/O on plain data commits.
    Uniform.markDirty(base,
      metaChanged = lines.exists(_.contains("\"metaData\"")))
  }

  /** add/remove.path resolution (protocol §Add File and Remove File):
    * the path is percent-encoded and RELATIVE to the table root, OR an
    * ABSOLUTE path — shallow clones reference the SOURCE table's files
    * that way, so every reader/maintenance path must resolve both. */
  private[graft] def resolveDataFile(base: String, rawPath: String): String = {
    val p = PathCodec.percentDecode(rawPath)
    val noScheme = if (p.startsWith("file:")) p.stripPrefix("file:") else p
    if (noScheme.startsWith("/")) noScheme else TableIO.join(base, p)
  }

  private[sources] def resolveDataPath(base: String, rawPath: String): String =
    resolveDataFile(base, rawPath)

  private[sources] def addJson(a: AddFile, base: String,
                      dataChange: Boolean = true): String = {
    val node = mapper.createObjectNode()
    val add = node.putObject("add")
    add.put("path", a.path)
    val pv = add.putObject("partitionValues")
    a.partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v)
    }
    val f = resolveDataFile(base, a.path)
    add.put("size", io.length(f))
    add.put("modificationTime", io.lastModified(f))
    add.put("dataChange", dataChange)
    a.dv.foreach { d =>
      val dv = add.putObject("deletionVector")
      dv.put("storageType", d.storageType)
      dv.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => dv.put("offset", o))
      dv.put("sizeInBytes", d.sizeInBytes)
      dv.put("cardinality", d.cardinality)
    }
    a.stats.foreach(s => add.put("stats", s))
    a.baseRowId.foreach(b => add.put("baseRowId", b))
    a.defaultRowCommitVersion.foreach(v =>
      add.put("defaultRowCommitVersion", v))
    if (a.tags.nonEmpty) {
      val t = add.putObject("tags")
      a.tags.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
    }
    mapper.writeValueAsString(node)
  }

  /** One domainMetadata action line (protocol §Domain Metadata). */
  private[sources] def domainMetadataJson(domain: String,
                                          configuration: String,
                                          removed: Boolean = false): String = {
    val node = mapper.createObjectNode()
    val d = node.putObject("domainMetadata")
    d.put("domain", domain)
    d.put("configuration", configuration)
    d.put("removed", removed)
    mapper.writeValueAsString(node)
  }

  /** The `delta.rowTracking` domain action carrying the row-id
    * high-water mark. */
  private[sources] def rowTrackingDomainJson(highWaterMark: Long): String = {
    val cfg = mapper.createObjectNode()
    cfg.put("rowIdHighWaterMark", highWaterMark)
    domainMetadataJson("delta.rowTracking", mapper.writeValueAsString(cfg))
  }

  /** numRecords from an add's stats JSON — the row count row tracking
    * allocates id ranges by. Refuses stat-less files loudly: allocating
    * a guessed range would collide ids. */
  private[sources] def numRecordsOf(a: AddFile): Long =
    a.stats.flatMap(s => Option(mapper.readTree(s).get("numRecords")))
      .map(_.asLong())
      .getOrElse(throw new IllegalStateException(
        s"add ${a.path} carries no numRecords stat — cannot allocate " +
        "row ids for it"))

  private def metaJson(schema: StructType, partitionBy: Seq[String],
                       tableId: String,
                       configuration: Map[String, String] = Map.empty): String = {
    val node = mapper.createObjectNode()
    val m = node.putObject("metaData")
    m.put("id", tableId)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns"); partitionBy.foreach(pc.add)
    val cfg = m.putObject("configuration")
    configuration.foreach { case (k, v) => cfg.put(k, v) }
    m.put("createdTime", 0L) // deterministic fixtures; readers ignore it
    mapper.writeValueAsString(node)
  }

  private val protocolJson: String =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  // Features a legacy (pre-table-features) protocol version IMPLIES
  // (PROTOCOL.md §Table Features → legacy version mapping): an upgrade
  // to reader 3 / writer 7 must list them explicitly or later
  // readers/writers see a table that silently dropped its contracts.
  private val impliedWriterFeatures: Map[Int, Set[String]] = Map(
    2 -> Set("appendOnly", "invariants"),
    3 -> Set("checkConstraints"),
    4 -> Set("changeDataFeed", "generatedColumns"),
    5 -> Set("columnMapping"),
    6 -> Set("identityColumns"))
  private val impliedReaderFeatures: Map[Int, Set[String]] = Map(
    2 -> Set("columnMapping"))

  /** Protocol action that UPGRADES `snap`'s recorded protocol with the
    * given features, carrying everything already declared forward:
    * max of the version pair, union of the feature lists, plus every
    * feature the old LEGACY version implied. Writing a fixed protocol
    * here instead (the pre-round-8 bug) would REPLACE the table's
    * protocol on log replay and silently erase declarations like
    * writerFeatures=["invariants"] for all later readers and writers. */
  private[sources] def upgradeProtocolJson(snap: DeltaSnapshot,
                                           addReader: Set[String],
                                           addWriter: Set[String],
                                           needReader: Int,
                                           needWriter: Int): String = {
    val oldImpliedW =
      if (snap.minWriterVersion >= 7) Set.empty[String]
      else (2 to snap.minWriterVersion)
        .flatMap(v => impliedWriterFeatures.getOrElse(v, Set.empty)).toSet
    val oldImpliedR =
      if (snap.minReaderVersion >= 3) Set.empty[String]
      else (2 to snap.minReaderVersion)
        .flatMap(v => impliedReaderFeatures.getOrElse(v, Set.empty)).toSet
    val rf = oldImpliedR ++ snap.readerFeatureSet ++ addReader
    val wf = oldImpliedW ++ snap.writerFeatureSet ++ addWriter
    val node = mapper.createObjectNode()
    val p = node.putObject("protocol")
    p.put("minReaderVersion", math.max(snap.minReaderVersion, needReader))
    p.put("minWriterVersion", math.max(snap.minWriterVersion, needWriter))
    val ra = p.putArray("readerFeatures"); rf.toSeq.sorted.foreach(ra.add)
    val wa = p.putArray("writerFeatures"); wf.toSeq.sorted.foreach(wa.add)
    mapper.writeValueAsString(node)
  }

  private[sources] def currentVersion(base: String): Option[Long] = {
    val fs = io.list(logDir(base)).filter(CommitName.matches)
    if (fs.isEmpty) None else Some(fs.map(_.stripSuffix(".json").toLong).max)
  }

  /** Create-or-replace the table (commit 0 = protocol+metaData+adds;
    * later overwrites remove every live file). `tableId` carries a
    * stable table identity forward — INSERT OVERWRITE replaces
    * contents, not the table, so it passes the current id; plain
    * create-or-replace mints a fresh one. */
  def overwrite(df: DataFrame, base: String,
                partitionBy: Seq[String] = Seq.empty,
                configuration: Map[String, String] = Map.empty,
                tableId: Option[String] = None): Long = {
    val spark = df.sparkSession
    // the definition being WRITTEN governs: an overwrite that carries
    // constraints forward (INSERT OVERWRITE, TRUNCATE) validates its
    // new contents against them before staging
    validateConstraints(configuration, df, "overwrite")
    val adds = collectAddStats(spark, base,
      stageAdds(df, base, partitionBy, configuration),
      StructType(df.schema.filterNot(f => partitionBy.contains(f.name))))
    val v = currentVersion(base).map(_ + 1).getOrElse(0L)
    val removes = if (v == 0) Seq.empty else snapshot(spark, base).files
    // removes must carry the file's DV id: log reconciliation matches
    // (path, dvId), so a bare remove would never reconcile a DV-carrying
    // live file and the overwritten data would stay readable
    val removeLines = removes.map(r =>
      removeJson(r.path, r.dv, dataChange = true))
    writeCommit(base, v,
      Seq(protocolJson,
        metaJson(df.schema, partitionBy,
          tableId.getOrElse(UUID.randomUUID().toString),
          configuration)) ++
        removeLines ++ adds.map(addJson(_, base)),
      operation = "WRITE")
    v
  }

  /** Create a table with column mapping enabled, exactly as a modern
    * delta-spark writer lays one out: parquet files carry the PHYSICAL
    * column names, the logical schema lives only in schemaString field
    * metadata (`delta.columnMapping.physicalName` / `.id`),
    * partitionValues are keyed by physical names, and the protocol
    * advertises the feature. `mode` "name" resolves columns by physical
    * name; "id" additionally stamps parquet field ids (= the mapping
    * ids) into the data files — the resolution key id-mode readers must
    * use, since physical names are then free to diverge. Fixture-writer
    * scope: creation only (no append/overwrite of an existing mapped
    * table). */
  def overwriteColumnMapped(df: DataFrame, base: String,
                            physicalFor: String => String,
                            partitionBy: Seq[String] = Seq.empty,
                            mode: String = "name",
                            extraConfig: Map[String, String] = Map.empty): Long = {
    require(mode == "name" || mode == "id", s"columnMapping mode $mode")
    require(currentVersion(base).isEmpty,
      s"column-mapped fixture writer only creates tables ($base exists)")
    val physDf = {
      val renamed = df.select(df.schema.fieldNames.map(n =>
        col(n).as(physicalFor(n))): _*)
      if (mode == "name") renamed
      else {
        // id mode: the files must carry parquet field_id = mapping id
        df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        renamed.select(renamed.schema.fieldNames.zipWithIndex.map { case (n, i) =>
          col(n).as(n, new MetadataBuilder()
            .putLong("parquet.field.id", i + 1L).build())
        }: _*)
      }
    }
    val adds = collectAddStats(df.sparkSession, base,
      stageAdds(physDf, base, partitionBy.map(physicalFor), extraConfig),
      StructType(physDf.schema.filterNot(f =>
        partitionBy.map(physicalFor).contains(f.name))))
    val mapped = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", physicalFor(f.name))
        .build())
    })
    val cfg = Map(
      "delta.columnMapping.mode" -> mode,
      "delta.columnMapping.maxColumnId" -> df.schema.size.toString) ++
      extraConfig
    val proto =
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    writeCommit(base, 0L,
      Seq(proto,
        metaJson(mapped, partitionBy, UUID.randomUUID().toString, cfg)) ++
        adds.map(addJson(_, base)),
      operation = "CREATE TABLE")
    0L
  }

  /** Mark row positions of one live data file deleted via a deletion
    * vector, exactly as a DV-enabled delta-spark DELETE does: upgrade
    * the protocol to v3 with the deletionVectors feature, then in one
    * commit remove the (path, oldDv) pair and re-add the path with the
    * new DV — the data file itself is never rewritten. `inline` stores
    * the DV z85-encoded in the log; otherwise a UUID-named `.bin` file
    * is written beside the data (the `u` storage type). Fixture-writer
    * scope: one file per call, no pre-existing DV on it. */
  def deleteRowPositions(spark: SparkSession, base: String, relPath: String,
                         positions: Seq[Long],
                         inline: Boolean = false): Long = {
    val snap = snapshot(spark, base)
    val f = snap.files.find(_.path == relPath).getOrElse(
      throw new IllegalArgumentException(
        s"$relPath is not a live file of $base (have ${snap.files.map(_.path)})"))
    require(f.dv.isEmpty, "fixture writer: file already carries a deletion vector")
    val distinct = positions.distinct
    val data = DeletionVectors.dvDataBytes(distinct)
    val dv =
      if (inline) {
        val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
        DvDescriptor("i", DeletionVectors.z85Encode(padded), None,
          data.length, distinct.size.toLong)
      } else {
        val uuid = UUID.randomUUID()
        val (bytes, off) = DeletionVectors.dvFileBytes(distinct)
        io.writeBytes(TableIO.join(base, s"deletion_vector_$uuid.bin"), bytes)
        DvDescriptor("u", DeletionVectors.encodeUuid(uuid), Some(off),
          data.length, distinct.size.toLong)
      }
    val removeLine = removeJson(f.path, None, dataChange = true) // f.dv is empty
    val proto = upgradeProtocolJson(snap,
      Set("deletionVectors"), Set("deletionVectors"), 3, 7)
    val v = snap.version + 1
    writeCommit(base, v,
      Seq(proto, removeLine, addJson(f.copy(dv = Some(dv)), base)),
      operation = "DELETE")
    v
  }

  /** Conform an appended frame to a column-mapped table's PHYSICAL
    * layout — data files never hold logical names under mapping, so a
    * logical-named file would make every mapped read of it silently
    * NULL. Frames named by the LOGICAL schema (what SQL INSERT and
    * every API caller naturally holds) are renamed to their physical
    * names; frames already fully physical pass through name-unchanged
    * (a frame whose names are ALL valid physical names is treated as
    * physical — that check runs first). In `id` mode every staged
    * column is additionally stamped with its mapping id as the parquet
    * field id, the resolution key id-mode readers use. Unmapped tables
    * return the frame untouched. */
  private[sources] def conformToPhysical(snap: DeltaSnapshot, df: DataFrame): DataFrame = {
    if (snap.columnMappingMode == "none") return df
    // the row-tracking materialized columns are PHYSICAL by
    // construction (never part of the logical schema, fixed names
    // recorded in table properties) — they ride through untouched
    val extras = Set(MaterializedRowIdCol, MaterializedRowVerCol)
    val nonExtra = df.schema.fieldNames.filterNot(extras.contains)
    val physToLogical =
      snap.schema.fieldNames.map(n => snap.physicalName(n) -> n).toMap
    val logicalOf: String => String =
      if (nonExtra.forall(physToLogical.contains)) physToLogical
      else {
        val logical = snap.schema.fieldNames.toSet
        val bad = nonExtra.filterNot(logical.contains)
        require(bad.isEmpty,
          s"append to column-mapped table: columns ${bad.mkString(",")} " +
          s"are neither physical nor logical names of the table " +
          s"(logical: ${logical.mkString(",")}) — a mismatched file " +
          "would read back NULL (refusing)")
        identity
      }
    val idMode = snap.columnMappingMode == "id"
    if (idMode)
      df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(df.schema.fieldNames.map { n =>
      if (extras.contains(n)) {
        col(n)
      } else {
      val logical = logicalOf(n)
      val phys = snap.physicalName(logical)
      if (idMode) {
        val id = snap.fieldId(logical).getOrElse(throw new IllegalStateException(
          s"columnMapping.mode=id but field '$logical' has no " +
          "delta.columnMapping.id — corrupt metadata (refusing)"))
        col(n).as(phys,
          new MetadataBuilder().putLong("parquet.field.id", id).build())
      } else col(n).as(phys)
      }
    }: _*)
  }

  /** Append rows (no existing file touched). Commits through the OCC
    * reconciler: a concurrent writer winning the version race is
    * re-read and, when its changes are disjoint (an append depends on
    * no existing file), this commit rebases onto the next version —
    * two interleaved disjoint appends both land, as Delta's optimistic
    * protocol prescribes. */
  def append(df0: DataFrame, base: String,
             partitionBy: Seq[String] = Seq.empty): Long = {
    val snap = snapshot(df0.sparkSession, base)
    // rowTracking declared but not enabled still obliges every commit
    // to assign fresh baseRowId ranges (protocol §Row Tracking) — work
    // this writer does only on enabled tables (appendRowTracked below)
    require(!snap.writerFeatureSet.contains("rowTracking") ||
        snap.rowTrackingEnabled,
      "append: writer feature rowTracking is declared but " +
      "delta.enableRowTracking is not set — the supported-but-not-" +
      "enabled state (fresh id assignment without stability) is not " +
      "implemented; run enableRowTracking or drop the feature")
    identityColumnOf(snap.schema).foreach {
      case (name, start, step, hwm, allowExplicit) =>
        require(!df0.columns.contains(name) || allowExplicit,
          s"column '$name' is GENERATED ALWAYS AS IDENTITY — the engine " +
          "assigns it; omit it from the append frame")
        if (!df0.columns.contains(name)) {
          // id assignment reads the high-water mark: conflicts recompute
          return TableIO.retryOnConflict(TableIO.RederiveRetries) { i =>
            val s = if (i == 0) snap else snapshot(df0.sparkSession, base)
            appendWithIdentity(s, df0, base, partitionBy, name, start, step,
              identityColumnOf(s.schema).get._4)
          }
        }
    }
    // generated columns derive/validate on the LOGICAL frame first
    val df = conformToPhysical(snap,
      applyGeneratedColumns(snap.schema, df0, "append"))
    validateConstraints(snap.configuration, asLogical(snap, df), "append")
    // appends INHERIT the table's partitioning: a partitioned table's
    // read path takes partition values from add.partitionValues (the
    // protocol's source of truth, data files don't carry the columns),
    // so an append staged flat would read every partition value as
    // NULL. A caller-specified layout must MATCH for the same reason.
    val tablePartitioning = snap.partitionColumns // logical names
    val effPartitionBy =
      if (partitionBy.isEmpty) tablePartitioning else partitionBy
    require(effPartitionBy == tablePartitioning,
      s"append partitionBy (${partitionBy.mkString(",")}) does not match " +
      s"the table's partitioning (${tablePartitioning.mkString(",")}) — " +
      "a mismatched layout would corrupt partition re-attachment")
    // staging and partitionValues keys are physical-named
    val physParts = effPartitionBy.map(snap.physicalName)
    val adds = collectAddStats(df.sparkSession, base,
      stageAdds(df, base, physParts, snap.configuration),
      StructType(df.schema.filterNot(f => physParts.contains(f.name))))
    if (snap.rowTrackingEnabled) {
      val v = appendRowTracked(df.sparkSession, base, snap, adds)
      maybeAutoCompact(df.sparkSession, base, snap.configuration)
      return v
    }
    val v = snap.version + 1
    val out = commitReconciled(base, v, adds.map(addJson(_, base)),
      operation = "WRITE", removedPaths = Set.empty)
    maybeAutoCompact(df.sparkSession, base, snap.configuration)
    out
  }

  // ------------------------------------------------- row tracking

  /** Physical names of the materialized row-id / row-commit-version
    * columns (protocol §Row Tracking: recorded as table properties so
    * every writer agrees where preserved values live). Fixed names —
    * deterministic fixtures — validated against the schema at enable. */
  private[sources] val MaterializedRowIdCol = "_row_id_col_graft"
  private[sources] val MaterializedRowVerCol = "_row_commit_col_graft"

  /** Enable row tracking (protocol §Row Tracking) on an existing table:
    * one commit upgrades the protocol (writer features `rowTracking` +
    * `domainMetadata`, minWriterVersion 7), records the table
    * properties, BACKFILLS every live file with a `baseRowId` (files in
    * path order, ranges sized by each add's numRecords stat) and writes
    * the `delta.rowTracking` high-water mark domain. Metadata-only — no
    * data file is touched; a row's id is baseRowId + its position until
    * some rewrite materializes it. */
  def enableRowTracking(spark: SparkSession, base: String): Long = {
    val snap = snapshot(spark, base)
    if (snap.rowTrackingEnabled) return snap.version
    // CDF composes: the enable commit's backfill re-adds carry
    // dataChange=false (the change feed emits nothing for them) and
    // change rows stay LOGICAL — no refusal needed
    require(identityColumnOf(snap.schema).isEmpty,
      "rowTracking on a table with an IDENTITY column is not " +
      "implemented — refusing (two allocators would race one commit)")
    Seq(MaterializedRowIdCol, MaterializedRowVerCol).foreach { c =>
      require(!snap.schema.fieldNames.contains(c),
        s"schema already has a column named '$c' — cannot materialize " +
        "row tracking values")
    }
    var next = snap.rowIdHighWaterMark + 1
    val readds = snap.files.sortBy(_.path).map { f =>
      val n = numRecordsOf(f)
      val a = f.copy(baseRowId = Some(next),
        defaultRowCommitVersion = Some(snap.version + 1))
      next += n
      a
    }
    val conf = snap.configuration +
      ("delta.enableRowTracking" -> "true") +
      ("delta.rowTracking.materializedRowIdColumnName" ->
        MaterializedRowIdCol) +
      ("delta.rowTracking.materializedRowCommitVersionColumnName" ->
        MaterializedRowVerCol)
    val lines =
      upgradeProtocolJson(snap, Set.empty,
        Set("rowTracking", "domainMetadata"), 1, 7) ::
      metaJson(snap.schema, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString), conf) ::
      rowTrackingDomainJson(next - 1) ::
      readds.map(addJson(_, base, dataChange = false)).toList
    writeCommit(base, snap.version + 1, lines, "ENABLE ROW TRACKING")
    snap.version + 1
  }

  /** Append into a row-tracking table: fresh `baseRowId` ranges come
    * from the high-water mark, so the commit races other allocators on
    * the SAME state — no blind rebase (commitReconciled re-attempts the
    * same lines, which would double-allocate ids); a lost race re-reads
    * the snapshot and re-derives ids/versions from the new mark. The
    * staged files are reused across attempts — only metadata moves. */
  private def appendRowTracked(spark: SparkSession, base: String,
                               snap0: DeltaSnapshot,
                               adds: Seq[AddFile]): Long = {
    var s = snap0
    TableIO.retryOnConflict(TableIO.RebaseRetries, onLoss = { _ =>
      // Mirror commitReconciled's winner inspection: the staged files
      // were conformed against the snapshot's metaData (column-mapping
      // physical names, constraints, protocol), so a winning commit
      // that changed either invalidates them — republishing e.g.
      // logical-named parquet into a now physically-named table would
      // read back as silent NULLs.
      winningActions(base, s.version + 1)._2.foreach { case (wv, n) =>
        if (n.has("metaData") || n.has("protocol"))
          throw new java.util.ConcurrentModificationException(
            s"concurrent commit $wv of $base changed table " +
            "metadata/protocol — refusing to rebase a row-tracked " +
            "append staged against the old definition")
      }
      s = snapshot(spark, base)
      require(s.rowTrackingEnabled,
        s"row tracking was disabled concurrently on $base — refusing")
    }) { _ =>
      val v = s.version + 1
      var next = s.rowIdHighWaterMark + 1
      val withIds = adds.map { a =>
        val n = numRecordsOf(a)
        val r = a.copy(baseRowId = Some(next),
          defaultRowCommitVersion = Some(v))
        next += n
        r
      }
      writeCommit(base, v, withIds.map(addJson(_, base)) :+
        rowTrackingDomainJson(next - 1), "WRITE")
      v
    }
  }

  /** The log head, and every action of the commits that won versions
    * `from`..head, read lazily: what a losing committer inspects before
    * it rebases (a refusal stops the reads at the offending commit). */
  private def winningActions(base: String,
                             from: Long): (Long, Iterator[(Long, JsonNode)]) = {
    val head = currentVersion(base).getOrElse(
      throw new IllegalStateException(s"no commits under $base"))
    (head, (from to head).iterator.flatMap { wv =>
      val wf = TableIO.join(logDir(base), commitName(wv))
      if (!io.exists(wf)) Iterator.empty
      else io.readLines(wf).iterator.filter(_.nonEmpty)
        .map(line => wv -> mapper.readTree(line))
    })
  }

  /** Read with the row-tracking columns `_row_id` and
    * `_row_commit_version` attached (protocol §Row Tracking): each
    * row's values resolve as the file's MATERIALIZED columns when
    * present (rows copied by a rewrite carry their original ids there)
    * else baseRowId + row_index / defaultRowCommitVersion. DV deletes
    * never move surviving rows, so position-derived ids are stable
    * across them by construction. One broadcast of (file → baseRowId,
    * version) — metadata scale; the scan stays fully distributed. */
  def readWithRowIds(spark: SparkSession, base: String,
                     versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, base, versionAsOf)
    require(snap.rowTrackingEnabled,
      s"row tracking is not enabled on $base (enableRowTracking first)")
    val ridCol = snap.configuration.getOrElse(
      "delta.rowTracking.materializedRowIdColumnName", MaterializedRowIdCol)
    val verCol = snap.configuration.getOrElse(
      "delta.rowTracking.materializedRowCommitVersionColumnName",
      MaterializedRowVerCol)
    snap.files.foreach(f => require(f.baseRowId.isDefined &&
        f.defaultRowCommitVersion.isDefined,
      s"live file ${f.path} carries no baseRowId/defaultRowCommitVersion " +
      "— corrupt row-tracking state (refusing)"))
    import spark.implicits._
    val scan = assembleScan(spark, base, snap, keepCoords = true,
      extraCols = Seq(StructField(ridCol, LongType),
        StructField(verCol, LongType)))
    val fileMap = snap.files.map(f =>
      (fileKey(base, f), f.baseRowId.get, f.defaultRowCommitVersion.get))
      .toDF("__delta_file", "__base_rid", "__def_ver")
    scan.join(broadcast(fileMap), Seq("__delta_file"))
      .withColumn("_row_id",
        coalesce(col(ridCol), col("__base_rid") + col("__delta_pos")))
      .withColumn("_row_commit_version",
        coalesce(col(verCol), col("__def_ver")))
      .select(snap.schema.fieldNames.map(col) ++
        Seq(col("_row_id"), col("_row_commit_version")): _*)
  }

  /** Optimistic-concurrency commit with conflict reconciliation, the
    * protocol's loser-side contract: attempt the commit at
    * `expectedVersion`; when a concurrent writer won that version (the
    * atomic rename fails), read every commit that landed in between
    * and check FILE-LEVEL DISJOINTNESS — the same stale-file-subset
    * check graft-log's OCC uses:
    *
    *  - a winner that changed `metaData` (schema/partitioning) or
    *    `protocol` invalidates any staged commit → refuse;
    *  - a winner that removed or DV-replaced a file THIS commit also
    *    removes (or re-adds, i.e. depends on) → true write conflict →
    *    refuse, naming the files;
    *  - otherwise the changes are disjoint → rebase: re-attempt the
    *    SAME action lines at the next free version.
    *
    * `removedPaths` declares the files this commit depends on (its
    * remove set); an append passes the empty set and therefore only
    * conflicts with metadata changes. Driver-side log reads only. */
  private[sources] def commitReconciled(base: String, expectedVersion: Long,
                                        lines: Seq[String], operation: String,
                                        removedPaths: Set[String]): Long = {
    var v = expectedVersion
    TableIO.retryOnConflict(TableIO.RebaseRetries, onLoss = { _ =>
      // inspect every commit that won a version we attempted
      val (head, won) = winningActions(base, v)
      won.foreach { case (wv, n) =>
        if (n.has("metaData") || n.has("protocol"))
          throw new java.util.ConcurrentModificationException(
            s"concurrent commit $wv of $base changed table " +
            "metadata/protocol — refusing to rebase a commit " +
            "staged against the old definition")
        Seq("remove", "add").foreach { kind =>
          Option(n.get(kind)).foreach { a =>
            val p = a.get("path").asText()
            if (removedPaths.contains(p))
              throw new java.util.ConcurrentModificationException(
                s"concurrent commit $wv of $base touched file $p " +
                "which this commit also rewrites — conflicting " +
                "writes, refusing")
          }
        }
      }
      v = head + 1 // disjoint → rebase and re-attempt
    }) { _ => writeCommit(base, v, lines, operation); v }
  }

  private[sources] def removeJson(path: String, dv: Option[DvDescriptor],
                         dataChange: Boolean): String = {
    val node = mapper.createObjectNode()
    val rm = node.putObject("remove")
    rm.put("path", path); rm.put("dataChange", dataChange)
    dv.foreach { d =>
      val n = rm.putObject("deletionVector")
      n.put("storageType", d.storageType)
      n.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => n.put("offset", o))
      n.put("sizeInBytes", d.sizeInBytes)
      n.put("cardinality", d.cardinality)
    }
    mapper.writeValueAsString(node)
  }

  /** The live rows of `files` as a rewrite writes them back:
    * `physicalScan` with `__delta_file` kept (the binned rewrite joins
    * it to a file→bin map). Row tracking: the rewrite moves rows
    * between files, so every surviving row's id AND commit version
    * MATERIALIZE into the rewritten file — resolved from the source
    * file's materialized columns else baseRowId + position — so ids
    * stay stable through the dataChange=false swap, exactly the §Row
    * Tracking preservation contract for OPTIMIZE. id-mode tables stamp
    * the mapping ids back into the staged files (physical names in
    * id-mode files are free to diverge). */
  private def rewriteSource(spark: SparkSession, base: String,
                            snap: DeltaSnapshot,
                            files: Seq[AddFile]): DataFrame = {
    if (snap.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    if (!snap.rowTrackingEnabled)
      return physicalScan(spark, base, snap, files, keepCoords = true)
        .drop("__delta_pos")
    import spark.implicits._
    val scan = physicalScan(spark, base, snap, files, keepCoords = true,
      extraCols = rowTrackingFields)
    val fileMap = files.map(f =>
        (fileKey(base, f), f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(0L)))
      .toDF("__delta_file", "__base_rid", "__def_ver")
    scan.join(broadcast(fileMap), Seq("__delta_file"))
      .withColumn(MaterializedRowIdCol,
        coalesce(col(MaterializedRowIdCol),
          col("__base_rid") + col("__delta_pos")))
      .withColumn(MaterializedRowVerCol,
        coalesce(col(MaterializedRowVerCol), col("__def_ver")))
      .drop("__delta_pos", "__base_rid", "__def_ver")
  }

  /** The materialized row-tracking columns a rewrite carries. */
  private val rowTrackingFields: Seq[StructField] = Seq(
    StructField(MaterializedRowIdCol, LongType),
    StructField(MaterializedRowVerCol, LongType))

  /** The schema a rewrite's staged files are written under: the
    * physical data columns, plus the row-tracking columns on tracked
    * tables — what `collectAddStats` reads back. */
  private def rewriteSchema(snap: DeltaSnapshot): StructType =
    StructType(snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
      .map(f => f.copy(name = snap.physicalName(f.name))) ++
      (if (snap.rowTrackingEnabled) rowTrackingFields else Seq.empty))

  /** Fresh burn ranges + the advanced high-water-mark domain for a
    * row-tracked commit's adds. Every row in a binned rewrite carries
    * a MATERIALIZED id, so the fresh range is burned, never read — but
    * the protocol still requires baseRowId on every committed add and
    * a monotone mark. No-op on untracked tables. */
  private def withRowIdRanges(snap: DeltaSnapshot, adds: Seq[AddFile],
                              v: Long): (Seq[AddFile], Seq[String]) =
    if (!snap.rowTrackingEnabled) (adds, Seq.empty)
    else {
      snap.files.foreach(f => require(f.baseRowId.isDefined,
        s"live file ${f.path} carries no baseRowId — corrupt " +
        "row-tracking state (refusing)"))
      var hwm = snap.rowIdHighWaterMark
      val out = adds.map { a =>
        val n = numRecordsOf(a)
        val r = a.copy(baseRowId = Some(hwm + 1),
          defaultRowCommitVersion = Some(v))
        hwm += n
        r
      }
      (out, Seq(rowTrackingDomainJson(hwm)))
    }

  /** First-fit-decreasing packing of files into bins whose on-disk
    * sizes sum to at most `target` — a file larger than the target
    * gets its own bin. Bounds every rewritten file's size by
    * construction. */
  private def packBins(fs: Seq[AddFile], sizeOf: AddFile => Long,
                       target: Long): Seq[Seq[AddFile]] = {
    val bins = mutable.ArrayBuffer.empty[(mutable.ArrayBuffer[AddFile], Long)]
    fs.sortBy(f => (-sizeOf(f), f.path)).foreach { f =>
      val s = sizeOf(f)
      bins.indexWhere(_._2 + s <= target) match {
        case -1 => bins += ((mutable.ArrayBuffer(f), s))
        case i => bins(i) = (bins(i)._1 += f, bins(i)._2 + s)
      }
    }
    bins.map(_._1.toSeq).toSeq
  }

  /** Rewrite the given (partitionValues, file set) bins in ONE
    * distributed job: every bin's survivors scan together, a broadcast
    * file→bin join routes rows, `repartition(__bin)` gives each bin a
    * single writing task, and `partitionBy(__bin)` splits the output —
    * one replacement file per bin. The shape this replaces ran one
    * job per PARTITION through a `coalesce(1)` funnel: a large
    * partition's whole rewrite moved through one task and landed in
    * one unbounded file. Returns add actions (stats attached by one
    * grouped scan), omitting bins whose rows were all DV-deleted. */
  private def rewriteBinned(spark: SparkSession, base: String,
                            snap: DeltaSnapshot,
                            bins: Seq[(Map[String, String], Seq[AddFile])])
      : Seq[AddFile] = {
    if (bins.isEmpty) return Seq.empty
    import spark.implicits._
    val files = bins.flatMap(_._2)
    val binOf: Seq[(String, Int)] = bins.zipWithIndex.flatMap {
      case ((_, fs), b) => fs.map(f => fileKey(base, f) -> b)
    }
    val scan = rewriteSource(spark, base, snap, files)
    val scratch = TableIO.join(base, s".opt_${UUID.randomUUID()}")
    val id = UUID.randomUUID().toString
    val staged = StagedFiles.publish(scratch)(
      scan.join(broadcast(binOf.toDF("__delta_file", "__bin")),
          Seq("__delta_file"))
        .drop("__delta_file")
        .repartition(col("__bin"))
        .write.mode("overwrite").partitionBy("__bin").parquet(_)) { p =>
      // same flat layout + explicit partitionValues the old path
      // produced (directory layout is convention, add.pv is truth)
      val name = s"$id-${p.index}.parquet"
      io.move(p.path, TableIO.join(base, name))
      AddFile(name, bins(p.partition.head._2.toInt)._1)
    }
    collectAddStats(spark, base, staged, rewriteSchema(snap))
  }

  /** OPTIMIZE: bin-packing compaction, exactly as Delta's OPTIMIZE
    * command behaves — within each partition, files smaller than
    * `smallFileBytes` (plus any file carrying a deletion vector, which
    * OPTIMIZE materializes away) are rewritten into as few files as
    * possible, and the swap is committed as remove+add actions with
    * `dataChange=false` so downstream CDF/streaming consumers know no
    * row changed. Data files are read at the physical level: `none` and
    * `name` tables compact by physical column name; `id` tables resolve
    * by parquet field id (physicalScan stamps the mapping ids into the
    * read schema, and the rewrite stamps them back into the staged
    * files — physical names in id-mode files are free to diverge).
    *
    * Scale shape: candidate selection is driver-side metadata over the
    * file list; the rewrite itself is one distributed scan+write per
    * partition group, and untouched partitions cost nothing. Returns
    * the committed version, or None when nothing qualified. */
  def optimize(spark: SparkSession, base: String,
               smallFileBytes: Long = 128L << 20,
               targetFileBytes: Long = 1L << 30,
               partitionFilter: Map[String, String] = Map.empty): Option[Long] = {
    val snap = snapshot(spark, base)
    // clustered tables: plain OPTIMIZE IS incremental liquid
    // clustering (delta-spark's own dispatch)
    if (clusteringColumns(snap).nonEmpty) {
      require(partitionFilter.isEmpty,
        "OPTIMIZE WHERE on a clustered table: clustered tables are " +
        "unpartitioned — there is no partition to scope to")
      return optimizeClustered(spark, base)
    }
    // OPTIMIZE ... WHERE: compact only matching partitions — the
    // whole-table walk is wrong on a 100 TB table when one hot
    // partition took the day's small-file churn
    partitionFilter.keys.foreach(k =>
      require(snap.partitionColumns.contains(k),
        s"OPTIMIZE WHERE: '$k' is not a partition column of $base " +
        s"(partitioned by ${snap.partitionColumns.mkString(", ")})"))
    def sizeOf(f: AddFile): Long =
      io.length(resolveDataFile(base, f.path))
    // candidate selection is driver-side metadata; the rewrite is ONE
    // distributed job over every selected bin (rewriteBinned), each
    // output file bounded by targetFileBytes via first-fit packing
    val bins = mutable.ArrayBuffer.empty[(Map[String, String], Seq[AddFile])]
    val removed = mutable.ArrayBuffer.empty[AddFile]
    snap.files.groupBy(_.partitionValues).toSeq
      .filter { case (pv, _) =>
        partitionFilter.forall { case (k, v) => pv.get(k).contains(v) } }
      .sortBy(_._1.toString).foreach { case (pv, fs) =>
        val candidates = fs.filter(f =>
          sizeOf(f) < smallFileBytes || f.dv.exists(_.cardinality > 0))
        // one surviving clean file is already optimal for this partition
        val worthIt = candidates.size >= 2 ||
          candidates.exists(_.dv.exists(_.cardinality > 0))
        if (candidates.nonEmpty && worthIt) {
          packBins(candidates, sizeOf, targetFileBytes)
            .foreach(b => bins += ((pv, b)))
          removed ++= candidates
        }
      }
    if (removed.isEmpty) None
    else {
      val newAdds0 = rewriteBinned(spark, base, snap, bins.toSeq)
      val v = snap.version + 1
      // row tracking: ids+versions are materialized in the rewritten
      // files (rewriteBinned); the adds still carry fresh burn ranges
      val (newAdds, domainLines) = withRowIdRanges(snap, newAdds0, v)
      writeCommit(base, v,
        removed.toSeq.map(r => removeJson(r.path, r.dv, dataChange = false)) ++
          newAdds.map(addJson(_, base, dataChange = false)) ++ domainLines,
        operation = "OPTIMIZE")
      Some(v)
    }
  }

  /** `delta.autoOptimize.autoCompact`: best-effort post-commit
    * compaction after an add-carrying write. When any partition (or
    * the table root when unpartitioned) accumulates at least
    * `spark.databricks.delta.autoCompact.minNumFiles` (default 50,
    * delta-spark's knob) files under 128 MB, run one OPTIMIZE commit —
    * candidate selection scopes itself to the small-file partitions,
    * untouched partitions cost nothing. The pairing with
    * `optimizeWrite` is deliberate: optimized writes stop the
    * per-write fan-out, auto-compact mops up the residual
    * many-small-commits accretion a streaming sink or frequent-append
    * pipeline still produces. Best-effort by contract (delta-spark's
    * own behavior): a compaction failure surfaces on stderr, never
    * fails the write that triggered it. Only append-shaped commits
    * hook it; OPTIMIZE itself never re-triggers. */
  private[sources] def maybeAutoCompact(spark: SparkSession, base: String,
                                        config: Map[String, String]): Unit = {
    // the caller's pre-commit snapshot carries the configuration, and a
    // data commit cannot change it — so non-enabled tables (the common
    // case) skip with ZERO log I/O
    if (!config.get("delta.autoOptimize.autoCompact").contains("true"))
      return
    try {
      val snap = snapshot(spark, base)
      val minN = spark.conf.getOption(
        "spark.databricks.delta.autoCompact.minNumFiles")
        .map(_.toInt).getOrElse(50)
      val smallBytes = 128L << 20
      val worst = snap.files.groupBy(_.partitionValues).values
        .map(_.count(f => io.length(resolveDataFile(base, f.path)) < smallBytes))
        .foldLeft(0)(math.max)
      if (worst >= minN)
        optimize(spark, base, smallFileBytes = smallBytes)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[delta] auto-compact of $base skipped: ${e.getMessage}")
    }
  }

  /** `REORG TABLE ... APPLY (PURGE)`: rewrite EXACTLY the files
    * carrying deletion vectors, materializing their survivors — the
    * soft-deleted rows physically disappear and the DV bins go
    * unreferenced, so a following VACUUM reclaims data and bins both
    * (the end of the merge-on-read delete lifecycle; OPTIMIZE folds DV
    * files opportunistically when they are small, PURGE is the
    * guarantee). Clean files are untouched regardless of size. Commits
    * `dataChange=false`: downstream CDF consumers and streams see a
    * layout change, not new data. */
  def reorgPurge(spark: SparkSession, base: String,
                 targetFileBytes: Long = 1L << 30): Option[Long] = {
    val snap = snapshot(spark, base)
    val byPartition = snap.files
      .filter(_.dv.exists(_.cardinality > 0)).groupBy(_.partitionValues)
    if (byPartition.isEmpty) return None
    def sizeOf(f: AddFile): Long =
      io.length(resolveDataFile(base, f.path))
    // every purged partition's survivors rewrite in ONE distributed
    // job, output files bounded by targetFileBytes (a fully-deleted
    // bin yields no file — its removes still commit)
    val bins = mutable.ArrayBuffer.empty[(Map[String, String], Seq[AddFile])]
    val removed = mutable.ArrayBuffer.empty[AddFile]
    byPartition.toSeq.sortBy(_._1.toString).foreach { case (pv, fs) =>
      packBins(fs, sizeOf, targetFileBytes).foreach(b => bins += ((pv, b)))
      removed ++= fs
    }
    val newAdds0 = rewriteBinned(spark, base, snap, bins.toSeq)
    val v = snap.version + 1
    val (newAdds, domainLines) = withRowIdRanges(snap, newAdds0, v)
    writeCommit(base, v,
      removed.toSeq.map(r => removeJson(r.path, r.dv, dataChange = false)) ++
        newAdds.map(addJson(_, base, dataChange = false)) ++ domainLines,
      operation = "REORG")
    Some(v)
  }

  /** OPTIMIZE ZORDER BY: rewrite EVERY file of each partition into
    * `filesPerPartition` range-partitioned files sorted by the Morton
    * interleave of `zorderBy` (the codegen'd `ZOrderCodeN` expression),
    * so each output file covers a compact bounding box in ALL the
    * z-order dimensions — `add.stats` min/max then let `readRange`
    * prune files for range predicates on ANY of them, the multi-
    * dimensional layout a 100 TB fact table needs. Deletion vectors are
    * materialized away by the rewrite; the swap commits with
    * `dataChange=false` like plain OPTIMIZE. Z-order columns must be
    * non-negative integrals fitting ⌊64/N⌋ bits (rank/bucket-normalize
    * upstream otherwise) and cannot be partition columns. */
  def optimizeZorder(spark: SparkSession, base: String,
                     zorderBy: Seq[String],
                     filesPerPartition: Int = 8): Option[Long] = {
    val snap = snapshot(spark, base)
    zorderRewrite(spark, base, snap, snap.files, zorderBy,
      filesPerPartition, tags = Map.empty)
  }

  /** Shared Z-order clustering rewrite over a SELECTED file set:
    * OPTIMIZE ZORDER BY rewrites everything; liquid clustering passes
    * only the not-yet-clustered candidates (and its state tags).
    * Untouched files survive by name. */
  private def zorderRewrite(spark: SparkSession, base: String,
                            snap: DeltaSnapshot, files: Seq[AddFile],
                            zorderBy: Seq[String], filesPerPartition: Int,
                            tags: Map[String, String]): Option[Long] = {
    require(zorderBy.nonEmpty, "zorderBy needs at least one column")
    zorderBy.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"no column '$c' in $base")
      require(!snap.partitionColumns.contains(c),
        s"'$c' is a partition column — z-ordering it is meaningless")
    }
    if (files.isEmpty) return None
    val tracked = snap.rowTrackingEnabled
    if (tracked) files.foreach(f => require(f.baseRowId.isDefined,
      s"live file ${f.path} carries no baseRowId — corrupt " +
      "row-tracking state (refusing)"))
    val zPhys = zorderBy.map(snap.physicalName)
    val newAdds = mutable.ArrayBuffer.empty[AddFile]
    files.groupBy(_.partitionValues).foreach { case (pv, fs) =>
      // the clustering rewrite re-positions rows: ids materialize
      // through it, same contract as the binned rewrite
      val rows = rewriteSource(spark, base, snap, fs).drop("__delta_file")
        .withColumn("__graft_z",
          graft.functions.VecExpressions.zorderNativeN(zPhys.map(col): _*))
        .repartitionByRange(filesPerPartition, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z")
      val staged = stageAdds(rows, base, Seq.empty)
        .map(_.copy(partitionValues = pv, tags = tags))
      newAdds ++= collectAddStats(spark, base, staged, rewriteSchema(snap))
    }
    val v = snap.version + 1
    val (adds, domainLines) = withRowIdRanges(snap, newAdds.toSeq, v)
    writeCommit(base, v,
      files.map(r => removeJson(r.path, r.dv, dataChange = false)) ++
        adds.map(addJson(_, base, dataChange = false)) ++ domainLines,
      operation = "OPTIMIZE")
    Some(v)
  }

  /** Tag recording WHICH columns a clustered file was clustered by —
    * a file is "already clustered" only when this matches the current
    * clustering columns, so ALTER ... CLUSTER BY invalidates every old
    * file without touching one. `clusteringProvider` is delta-spark's
    * own liquid marker. */
  private[graft] val ClusterColsTag = "graft.clusteringColumns"

  /** Clustering columns from the `delta.clustering` domain (protocol
    * §Clustered Table); empty = not a clustered table. */
  def clusteringColumns(snap: DeltaSnapshot): Seq[String] =
    snap.domains.get("delta.clustering").toSeq.flatMap { cfg =>
      val n = mapper.readTree(cfg).get("clusteringColumns")
      (0 until n.size()).map { i =>
        val part = n.get(i)
        require(part.size() == 1,
          "nested clustering column paths are not supported")
        part.get(0).asText()
      }
    }

  /** Turn a table into a clustered table (liquid clustering, the shape
    * delta-spark's `CLUSTER BY` records): one metadata-only commit —
    * protocol upgrade (writer features `clustering` + `domainMetadata`)
    * plus the `delta.clustering` domain with the column list. Also the
    * ALTER path: changing the columns rewrites only the domain; every
    * file clustered under the OLD columns becomes a candidate again at
    * the next OPTIMIZE (its [[ClusterColsTag]] no longer matches). No
    * data file is touched here — clustering happens at OPTIMIZE time,
    * incrementally. */
  def enableClustering(spark: SparkSession, base: String,
                       cols: Seq[String]): Long = {
    val snap = snapshot(spark, base)
    require(cols.nonEmpty && cols.size <= 4,
      "CLUSTER BY takes 1 to 4 columns (delta-spark's own bound)")
    cols.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"no column '$c' in $base"))
    require(snap.partitionColumns.isEmpty,
      "clustered tables are unpartitioned (liquid clustering REPLACES " +
      "hive partitioning, it does not compose with it)")
    if (clusteringColumns(snap) == cols) return snap.version
    val cfg = mapper.createObjectNode()
    val arr = cfg.putArray("clusteringColumns")
    cols.foreach(c => arr.addArray().add(c))
    writeCommit(base, snap.version + 1,
      upgradeProtocolJson(snap, Set.empty,
        Set("clustering", "domainMetadata"), 1, 7) ::
        domainMetadataJson("delta.clustering",
          mapper.writeValueAsString(cfg)) :: Nil,
      operation = "CLUSTER BY")
    snap.version + 1
  }

  /** Tags recording the OPTIMIZE generation ("cube") that wrote a
    * clustered file and that cube's merge level — the state that turns
    * repeated increments into an LSM hierarchy instead of an
    * ever-growing pile of overlapping z-ranges. */
  private[graft] val ClusterCubeTag = "graft.clusteringCube"
  private[graft] val ClusterLevelTag = "graft.clusteringLevel"

  /** Cubes per level at or above which OPTIMIZE merges the level into
    * ONE cube a level up (LSM fan-in). */
  private def clusteringFanIn(spark: SparkSession): Int =
    spark.conf.getOption("graft.clustering.fanin").map(_.toInt).getOrElse(4)

  /** OPTIMIZE on a clustered table = INCREMENTAL liquid clustering:
    * candidates are the files not yet clustered at the CURRENT
    * clustering columns (missing/stale [[ClusterColsTag]]) plus DV
    * carriers; already-clustered clean files survive by name, so the
    * rewrite cost tracks the un-clustered churn since the last
    * OPTIMIZE, not the table size — the property that makes clustering
    * maintainable on a 100 TB table.
    *
    * Increments form an LSM hierarchy: each OPTIMIZE writes one z-
    * ordered "cube" (tagged [[ClusterCubeTag]]/[[ClusterLevelTag]]);
    * once a level holds [[clusteringFanIn]] cubes they merge into one
    * cube a level up, cascading. So after N churn+OPTIMIZE rounds the
    * table holds at most (fanIn−1)·log_fanIn(N)+1 cubes — z-range
    * overlap (scan read-amplification) stays logarithmic in rounds
    * instead of linear, and each row is rewritten O(log N) times
    * total, never per round. Files clustered before cube tracking
    * share one "legacy" pseudo-cube at level 0 and fold into the
    * hierarchy at the first merge that reaches them. */
  def optimizeClustered(spark: SparkSession, base: String,
                        filesPerPartition: Int = 8): Option[Long] = {
    val snap = snapshot(spark, base)
    val cols = clusteringColumns(snap)
    require(cols.nonEmpty,
      s"$base is not a clustered table — use optimize/optimizeZorder")
    val tagVal = cols.mkString(",")
    def alreadyClustered(f: AddFile): Boolean =
      f.tags.get(ClusterColsTag).contains(tagVal) &&
        f.dv.forall(_.cardinality == 0)
    val (clustered, churn) = snap.files.partition(alreadyClustered)
    val cubes: Map[(Int, String), Seq[AddFile]] = clustered.groupBy(f =>
      (f.tags.get(ClusterLevelTag).map(_.toInt).getOrElse(0),
        f.tags.getOrElse(ClusterCubeTag, "legacy")))
    val fanIn = clusteringFanIn(spark)
    val merge = mutable.ArrayBuffer.empty[AddFile]
    merge ++= churn
    var carrying = churn.nonEmpty
    var level = 0
    var outLevel = 0
    var cascading = true
    while (cascading) {
      val atLevel = cubes.keys.count(_._1 == level)
      if (atLevel > 0 &&
          atLevel + (if (carrying) 1 else 0) >= fanIn) {
        merge ++= cubes.collect {
          case ((l, _), fs) if l == level => fs }.flatten
        carrying = true
        outLevel = level + 1
        level += 1
      } else cascading = false
    }
    if (merge.isEmpty) return None
    zorderRewrite(spark, base, snap, merge.toSeq, cols, filesPerPartition,
      tags = Map("clusteringProvider" -> "liquid", ClusterColsTag -> tagVal,
        ClusterCubeTag -> UUID.randomUUID().toString,
        ClusterLevelTag -> outLevel.toString))
  }

  /** `ALTER TABLE ... CLUSTER BY NONE`: drop liquid clustering —
    * metadata-only (the `delta.clustering` domain is tombstoned, the
    * protocol keeps its features, per-file cube tags become inert).
    * OPTIMIZE then bin-packs; the data keeps its physical layout until
    * rewrites churn it. Idempotent on unclustered tables. */
  def disableClustering(spark: SparkSession, base: String): Long = {
    val snap = snapshot(spark, base)
    if (clusteringColumns(snap).isEmpty) return snap.version
    writeCommit(base, snap.version + 1,
      domainMetadataJson("delta.clustering", "", removed = true) :: Nil,
      operation = "CLUSTER BY")
    snap.version + 1
  }

  /** VACUUM: physically delete files under the table root that the
    * current snapshot no longer references (tombstoned by remove
    * actions, or orphaned by failed writes) and whose modification time
    * is older than `retainMillis`. Live data files and the deletion
    * vector `.bin`s they reference are never touched, nor is anything
    * under `_delta_log` or any hidden (`.`/`_`-prefixed) path — the
    * same safety contract as Delta's VACUUM. Driver-side file listing
    * only (metadata scale). Returns the deleted paths (table-relative,
    * for auditability). */
  /** `dryRun`: report what WOULD be reclaimed, touch nothing — the
    * operational preview every retention change should run first. */
  def vacuum(spark: SparkSession, base: String,
             retainMillis: Long = 7L * 24 * 3600 * 1000,
             dryRun: Boolean = false): Seq[String] = {
    require(!isIcebergMirror(base),
      s"VACUUM on $base: the Delta log is a MIRROR of the Iceberg " +
      "table at the same location — its walk would delete files only " +
      "Iceberg history references; maintain through Iceberg " +
      "(expireSnapshots / rewriteDataFiles) and re-sync")
    val snap = snapshot(spark, base)
    // a LAGGING UniForm mirror may still reference files only the old
    // live set holds; syncing first pins the mirror to exactly the
    // current live set, which vacuum never deletes
    if (Uniform.isEnabled(snap) && !dryRun)
      IcebergInterop.syncUniformFromDelta(spark, base, Some(snap))
    val root = PathCodec.absNorm(base)
    val live: Set[String] = snap.files.flatMap { f =>
      val data = PathCodec.absNorm(resolveDataFile(base, f.path))
      // EVERY on-disk DV storage form is live while its file is:
      // "u" = UUID-derived bin under the table, "p" = absolute path
      // (external writers use it — deleting one breaks every read)
      val dvBin = f.dv.flatMap { d =>
        d.storageType match {
          case "u" =>
            val (prefix, uuid) = DeletionVectors.decodeUuid(d.pathOrInlineDv)
            val dir = if (prefix.isEmpty) root else TableIO.join(root, prefix)
            Some(PathCodec.absNorm(
              TableIO.join(dir, s"deletion_vector_$uuid.bin")))
          case "p" => Some(PathCodec.absNorm(d.pathOrInlineDv))
          case _ => None // "i" inline lives in the log itself
        }
      }
      Seq(data) ++ dvBin
    }.toSet
    val cutoff = System.currentTimeMillis() - retainMillis
    // a UniForm table's Iceberg mirror lives beside the log under
    // `metadata/` (+ translated delete parquets under `data/`) — those
    // files are live to ICEBERG readers but invisible to the Delta
    // log, so the walk must never enter the mirror directories. Keyed
    // on the mirror's ON-DISK presence (version-hint.text), not the
    // current UniForm property: disabling UniForm leaves the old
    // mirror beside the table, and a walk into it would delete
    // manifests piecemeal as they age — corrupting the table for any
    // Iceberg reader still pointed at the base.
    val mirrorOnDisk = io.exists(TableIO.join(
      TableIO.join(root, "metadata"), "version-hint.text"))
    val mirrorDirs: Set[String] =
      if (Uniform.isEnabled(snap) || mirrorOnDisk)
        Set(TableIO.join(root, "metadata"), TableIO.join(root, "data"))
          .map(PathCodec.absNorm)
      else Set.empty
    val commitFiles: Seq[String] =
      io.list(logDir(base)).filter(CommitName.matches).sorted
        .map(TableIO.join(logDir(base), _))
    val deleted: Seq[String] =
      if (snap.files.size < GcListing.fanoutThreshold(spark))
        vacuumDriverWalk(base, root, live, commitFiles, mirrorDirs,
          cutoff, dryRun)
      else
        vacuumFanout(spark, base, root, live, commitFiles, mirrorDirs,
          cutoff, dryRun)
    // drop now-empty partition directories (cosmetic, like Delta) —
    // bounded by the dirs that actually lost files, never a re-walk
    if (!dryRun) pruneEmptyParents(root, deleted)
    deleted.sorted
  }

  /** The small-table VACUUM fast path: one driver recursion, deleting
    * as it walks. Retention clocks from the TOMBSTONING commit (Delta's
    * deletionTimestamp contract — here the commit file's mtime, the
    * same clock time travel uses), NOT from the data file's own mtime:
    * a file written long ago but removed a minute ago must survive the
    * retention window so time travel / RESTORE inside it keep working.
    * Orphans (never logged) fall back to their own mtime. */
  private def vacuumDriverWalk(base: String, root: String,
                               live: Set[String],
                               commitFiles: Seq[String],
                               mirrorDirs: Set[String], cutoff: Long,
                               dryRun: Boolean): Seq[String] = {
    val tombstonedAt = mutable.HashMap.empty[String, Long]
    commitFiles.foreach { cf =>
      io.readLines(cf).foreach { line =>
        if (line.nonEmpty) {
          val n = mapper.readTree(line)
          Option(n.get("remove")).foreach { r =>
            val p = PathCodec.absNorm(resolveDataFile(base,
              r.get("path").asText()))
            tombstonedAt(p) = io.lastModified(cf) // latest remove wins
          }
        }
      }
    }
    val deleted = mutable.ArrayBuffer.empty[String]
    def walk(d: String): Unit =
      io.list(d).foreach { name =>
        val f = TableIO.join(d, name)
        val hidden = name.startsWith(".") || name.startsWith("_")
        if (io.isDirectory(f)) {
          if (!hidden && !mirrorDirs.contains(PathCodec.absNorm(f))) walk(f)
        }
        else if (!hidden && !live.contains(PathCodec.absNorm(f)) &&
                 tombstonedAt.getOrElse(PathCodec.absNorm(f),
                   io.lastModified(f)) <= cutoff) {
          val rel = PathCodec.absNorm(f).stripPrefix(root).stripPrefix("/")
          if (dryRun) deleted += rel
          else if (io.delete(f)) deleted += rel
        }
      }
    walk(root)
    deleted.toSeq
  }

  /** The at-scale VACUUM path: listing, tombstone extraction, the
    * live-set diff and the deletes all run as Spark jobs. At 10⁶–10⁷
    * files the driver never holds the candidate list (only the live
    * set, which the snapshot it already replayed pins anyway) and
    * never serializes a root walk — orphans fall out of a distributed
    * anti-join, delta-spark's own VACUUM shape. Semantics identical to
    * [[vacuumDriverWalk]] (same retention clocks, same skip rules);
    * GcScaleSpec pins dry-run list equality between the two. */
  private def vacuumFanout(spark: SparkSession, base: String, root: String,
                           live: Set[String], commitFiles: Seq[String],
                           mirrorDirs: Set[String], cutoff: Long,
                           dryRun: Boolean): Seq[String] = {
    import spark.implicits._
    val b = base
    // (path, commit version, commit mtime): the driver walk applies
    // removes in ascending version order, so "latest remove wins" ==
    // max-by-version here
    val tomb = spark.createDataset(
        commitFiles.map(cf => (cf, cf.split('/').last
          .takeWhile(_ != '.').toLong)))
      .repartition(math.max(1, math.min(commitFiles.size,
        spark.sparkContext.defaultParallelism)))
      .flatMap { case (cf, v) =>
        val eio = TableIO()
        val m = eio.lastModified(cf)
        eio.readLines(cf).filter(_.nonEmpty).flatMap { line =>
          val n = mapper.readTree(line)
          Option(n.get("remove")).map(r => (PathCodec.absNorm(
            resolveDataFile(b, r.get("path").asText())), v, m))
        }
      }.toDF("p", "v", "tm")
      .groupBy("p").agg(max(struct(col("v"), col("tm"))).as("x"))
      .select(col("p"), col("x.tm").as("tm"))
    val cand = GcListing.listFiles(spark, root, mirrorDirs,
      skipHidden = true).toDF("p", "fm")
    val liveDs = live.toSeq.toDF("p")
    val dead = cand
      .join(liveDs, Seq("p"), "left_anti")
      .join(tomb, Seq("p"), "left_outer")
      .where(coalesce(col("tm"), col("fm")) <= lit(cutoff))
      .select(col("p")).as[String]
    GcListing.reap(spark, root, dead, dryRun)
  }

  /** Remove directories emptied by a vacuum (cosmetic, like Delta):
    * bottom-up from the parents of the deleted files only — never a
    * fresh recursive walk, so the cost tracks the reclaim, not the
    * table. `delete` on a non-empty dir fails harmlessly, which makes
    * re-checking a parent after each pruned child safe. */
  private def pruneEmptyParents(root: String, deletedRel: Seq[String]): Unit = {
    def tryPrune(relDir: String): Unit =
      if (relDir.nonEmpty) {
        val name = relDir.split('/').last
        if (!name.startsWith("_") && !name.startsWith(".") &&
            io.list(TableIO.join(root, relDir)).isEmpty &&
            io.delete(TableIO.join(root, relDir))) {
          val i = relDir.lastIndexOf('/')
          if (i > 0) tryPrune(relDir.take(i))
        }
      }
    deletedRel.flatMap { rel =>
      val i = rel.lastIndexOf('/')
      if (i <= 0) None else Some(rel.take(i))
    }.distinct.sortBy(-_.count(_ == '/')).foreach(tryPrune)
  }

  /** Schema evolution: ADD COLUMN(s), exactly as Delta's `ALTER TABLE
    * ADD COLUMNS` behaves — ONE metaData action with the widened
    * schemaString; no data file is touched. Existing files simply lack
    * the new parquet columns and read back as NULL (the protocol's
    * missing-column contract, which `assembleScan`'s explicit read
    * schema already implements), so evolution is O(1) regardless of
    * table size. New columns are forced nullable (a non-null column
    * with no backfill would be a lie). Column-mapped tables are
    * refused for now — adding a column there must also mint a mapping
    * id + physical name, a writer feature this engine doesn't claim. */
  def addColumns(spark: SparkSession, base: String, cols: StructType): Long = {
    val snap = snapshot(spark, base)
    cols.fieldNames.foreach(n => require(!snap.schema.fieldNames.contains(n),
      s"column '$n' already exists in $base"))
    // on a mapped table every new field needs a fresh mapping id +
    // physical name (ids are never reused — that's what makes a later
    // DROP + re-ADD of the same name safe from old-file resurrection)
    val (newFields, newCfg) =
      if (snap.columnMappingMode == "none")
        (cols.fields.toSeq.map(_.copy(nullable = true)), snap.configuration)
      else {
        val maxId = snap.configuration.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(
            snap.schema.fieldNames.flatMap(n => snap.fieldId(n)).max)
        val fs = cols.fields.toSeq.zipWithIndex.map { case (f, i) =>
          val id = maxId + 1 + i
          f.copy(nullable = true,
            metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.columnMapping.id", id)
              .putString("delta.columnMapping.physicalName", s"col-$id")
              .build())
        }
        (fs, snap.configuration +
          ("delta.columnMapping.maxColumnId" -> (maxId + cols.size).toString))
      }
    val widened = StructType(snap.schema.fields ++ newFields)
    val v = snap.version + 1
    writeCommit(base, v, Seq(
      metaJson(widened, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString), newCfg)),
      operation = "ADD COLUMNS")
    v
  }

  /** Recorded CHECK constraints (`delta.constraints.<name>` → SQL
    * condition), the OSS property layout. */
  private[sources] def checkConstraintsOf(
      configuration: Map[String, String]): Seq[(String, String)] =
    configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }.sortBy(_._1)

  /** Enforce every CHECK constraint in `configuration` on `rows` — the
    * post-image a write is about to stage. SQL CHECK semantics: a row
    * violates only when the condition evaluates to FALSE (NULL passes).
    * One violating row fails the whole operation BEFORE anything is
    * staged, with the constraint and a sample row in the message —
    * delta-spark's write-time behavior. Cost: one limit(1) probe per
    * constraint, only on tables that record any. */
  private[sources] def validateConstraints(configuration: Map[String, String],
                                           rows: DataFrame,
                                           op: String): Unit =
    checkConstraintsOf(configuration).foreach { case (name, cond) =>
      val bad = rows.filter(!coalesce(expr(cond), lit(true))).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$op violates CHECK constraint '$name' ($cond) — e.g. row " +
        s"${bad.head.toString} (nothing was written)")
    }

  /** Generated columns recorded in a schema
    * (`delta.generationExpression` field metadata, the OSS layout):
    * name → SQL expression over the OTHER columns. */
  private[graft] def generatedColumnsOf(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("delta.generationExpression"))
        Some(f.name -> f.metadata.getString("delta.generationExpression"))
      else None
    }

  /** Enforce generated columns on an incoming frame: a column the
    * writer OMITS is computed from its expression (the usual INSERT
    * shape — users provide the sources, the engine derives); a column
    * the writer PROVIDES is validated value-by-value against the
    * expression (null-safe), refusing before staging — silently
    * accepting a divergent value would break every reader that
    * trusts the generation invariant. Returns the frame in table
    * column order. */
  private[graft] def applyGeneratedColumns(schema: StructType,
                                             df0: DataFrame,
                                             op: String): DataFrame = {
    val gens = generatedColumnsOf(schema)
    if (gens.isEmpty) return df0
    var out = df0
    gens.foreach { case (name, sql) =>
      val gen = expr(sql).cast(schema(name).dataType)
      if (!out.columns.contains(name)) out = out.withColumn(name, gen)
      else {
        val bad = out.filter(!(col(name) <=> gen)).limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"$op: provided value for generated column '$name' does not " +
          s"match its expression ($sql) — e.g. row ${bad.head.toString} " +
          "(nothing was written)")
      }
    }
    out.select(schema.fieldNames.map(col): _*)
  }

  /** Create a table with GENERATED ALWAYS AS columns: the frame
    * carries the source columns, each generated column is computed
    * here and its expression recorded in the field metadata; the
    * protocol takes legacy writer version 4 (implies
    * generatedColumns). Every later write enforces the invariant
    * through `applyGeneratedColumns`. */
  def overwriteGenerated(df: DataFrame, base: String,
                         generated: Seq[(String, DataType, String)],
                         partitionBy: Seq[String] = Seq.empty,
                         configuration: Map[String, String] = Map.empty): Long = {
    require(generated.nonEmpty, "no generated columns given")
    require(currentVersion(base).isEmpty,
      s"generated-column writer only creates tables ($base exists — " +
      "generated columns are fixed at creation, as Delta prescribes)")
    generated.foreach { case (n, _, _) =>
      require(!df.columns.contains(n),
        s"generated column '$n' must not be in the source frame at " +
        "creation (it is derived)") }
    val schema = StructType(df.schema.fields ++ generated.map {
      case (n, dt, sql) =>
        StructField(n, dt, nullable = true,
          metadata = new MetadataBuilder()
            .putString("delta.generationExpression", sql).build())
    })
    val full = applyGeneratedColumns(schema, df, "overwriteGenerated")
    validateConstraints(configuration, full, "overwriteGenerated")
    val adds = collectAddStats(df.sparkSession, base,
      stageAdds(full, base, partitionBy, configuration),
      StructType(full.schema.filterNot(f => partitionBy.contains(f.name))))
    val proto =
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""
    writeCommit(base, 0L,
      Seq(proto, metaJson(schema, partitionBy,
        UUID.randomUUID().toString, configuration)) ++
        adds.map(addJson(_, base)),
      operation = "CREATE TABLE")
    0L
  }

  /** The identity column recorded in a schema (`delta.identity.*`
    * field metadata): (name, start, step, highWaterMark,
    * allowExplicitInsert). At most one per table. */
  private[graft] def identityColumnOf(schema: StructType)
      : Option[(String, Long, Long, Option[Long], Boolean)] =
    schema.fields.find(_.metadata.contains("delta.identity.start")).map {
      f =>
        val m = f.metadata
        (f.name, m.getLong("delta.identity.start"),
          m.getLong("delta.identity.step"),
          if (m.contains("delta.identity.highWaterMark"))
            Some(m.getLong("delta.identity.highWaterMark")) else None,
          m.contains("delta.identity.allowExplicitInsert") &&
            m.getBoolean("delta.identity.allowExplicitInsert"))
    }

  private def identityField(name: String, start: Long, step: Long,
                            hwm: Option[Long]): StructField = {
    val b = new MetadataBuilder()
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
      .putBoolean("delta.identity.allowExplicitInsert", false)
    hwm.foreach(b.putLong("delta.identity.highWaterMark", _))
    StructField(name, LongType, nullable = true, metadata = b.build())
  }

  /** Assign identity values `nextStart, nextStart+step, ...` to a
    * frame lacking the column. Uniqueness needs an exact global rank;
    * the range-partitioned `globalRankWithTotal` provides it without a
    * single-reducer sort (the 100 TB shape — identity assignment must
    * not serialize the append). Order key = md5 of the full row, so
    * the assigned ID SET is deterministic for given content. Returns
    * the frame with ids and the row count. */
  private def assignIdentity(df: DataFrame, name: String,
                             nextStart: Long, step: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{struct, to_json}
    val (ranked, n) = graft.ops.Relational.globalRankWithTotal(df,
      Seq(md5(to_json(struct(df.columns.map(col): _*)))), "__id_rank")
    (ranked
      .withColumn(name,
        lit(nextStart) + (col("__id_rank") - 1L) * lit(step))
      .drop("__id_rank"), n)
  }

  /** Create a table with a GENERATED ALWAYS AS IDENTITY column: ids
    * `start, start+step, ...` are assigned here (never user-provided),
    * the spec + high-water mark ride in field metadata, the protocol
    * takes legacy writer version 6 (implies identityColumns). Appends
    * continue the sequence under an OCC guard — two concurrent appends
    * reading the same high-water mark would mint duplicate ids, so the
    * loser recomputes (see `append`). */
  def overwriteIdentity(df: DataFrame, base: String, name: String,
                        start: Long = 1L, step: Long = 1L,
                        partitionBy: Seq[String] = Seq.empty,
                        configuration: Map[String, String] = Map.empty): Long = {
    require(step != 0L, "IDENTITY step must be non-zero")
    require(currentVersion(base).isEmpty,
      s"identity writer only creates tables ($base exists — identity " +
      "columns are fixed at creation)")
    require(!df.columns.contains(name),
      s"identity column '$name' must not be in the source frame " +
      "(GENERATED ALWAYS: the engine assigns it)")
    validateConstraints(configuration, df, "overwriteIdentity")
    val (withIds, n) = assignIdentity(df, name, start, step)
    val hwm = if (n == 0) None else Some(start + step * (n - 1))
    val schema = StructType(
      identityField(name, start, step, hwm) +: df.schema.fields)
    val full = withIds.select(schema.fieldNames.map(col): _*)
    val adds = collectAddStats(df.sparkSession, base,
      stageAdds(full, base, partitionBy, configuration),
      StructType(full.schema.filterNot(f => partitionBy.contains(f.name))))
    val proto =
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}"""
    writeCommit(base, 0L,
      Seq(proto, metaJson(schema, partitionBy,
        UUID.randomUUID().toString, configuration)) ++
        adds.map(addJson(_, base)),
      operation = "CREATE TABLE")
    0L
  }

  /** Identity-assigning append: ids continue from the recorded
    * high-water mark, and the SAME commit moves the mark — under
    * direct version CAS (not the rebasing reconciler: a concurrent
    * winner may itself have advanced the mark, so the loser must
    * recompute its ids from the fresh snapshot, which `append`'s retry
    * loop does). Losing attempts discard their staged files. */
  private def appendWithIdentity(snap: DeltaSnapshot, df0: DataFrame,
                                 base: String, partitionBy: Seq[String],
                                 name: String, start: Long, step: Long,
                                 hwm: Option[Long]): Long = {
    require(snap.columnMappingMode == "none",
      "identity assignment on a column-mapped table is not implemented")
    val nextStart = hwm.map(_ + step).getOrElse(start)
    val (withIds, n) = assignIdentity(df0, name, nextStart, step)
    if (n == 0) return snap.version
    val conformed = withIds.select(snap.schema.fieldNames.map(col): _*)
    val withGen = applyGeneratedColumns(snap.schema, conformed, "append")
    validateConstraints(snap.configuration, withGen, "append")
    val effPartitionBy =
      if (partitionBy.isEmpty) snap.partitionColumns else partitionBy
    require(effPartitionBy == snap.partitionColumns,
      s"append partitionBy (${partitionBy.mkString(",")}) does not match " +
      s"the table's partitioning (${snap.partitionColumns.mkString(",")})")
    val adds = collectAddStats(df0.sparkSession, base,
      stageAdds(withGen, base, effPartitionBy),
      StructType(withGen.schema.filterNot(f =>
        effPartitionBy.contains(f.name))))
    val newHwm = nextStart + step * (n - 1)
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == name) identityField(name, start, step, Some(newHwm))
      else f))
    val v = snap.version + 1
    try writeCommit(base, v,
      Seq(metaJson(newSchema, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration)) ++ adds.map(addJson(_, base)),
      operation = "WRITE")
    catch {
      case e: java.util.ConcurrentModificationException =>
        // losing attempt: its ids were minted against a stale mark —
        // drop the staged files before the caller recomputes
        adds.foreach(a => io.delete(
          TableIO.join(base, PathCodec.percentDecode(a.path))))
        throw e
    }
    v
  }

  /** `rows` with LOGICAL column names, for constraint conditions that
    * always reference the logical schema: physical-named frames (the
    * column-mapped staging shape) map back through the snapshot. */
  private def asLogical(snap: DeltaSnapshot, rows: DataFrame): DataFrame = {
    if (snap.columnMappingMode == "none") return rows
    val physToLogical =
      snap.schema.fieldNames.map(n => snap.physicalName(n) -> n).toMap
    if (rows.schema.fieldNames.forall(physToLogical.contains))
      rows.select(rows.schema.fieldNames.map(n =>
        col(n).as(physToLogical(n))): _*)
    else rows
  }

  /** `ALTER TABLE ADD CONSTRAINT <name> CHECK (<condition>)`: existing
    * rows must already satisfy the condition (probed BEFORE the
    * commit, as delta-spark does — a constraint the data violates
    * would make every later rewrite of an old file fail), then one
    * metadata commit records `delta.constraints.<name>` and raises the
    * protocol's writer side (legacy version 3 implies
    * checkConstraints; tables on table features declare it). Every
    * write path validates against the recorded conditions from then
    * on. */
  def addCheckConstraint(spark: SparkSession, base: String,
                         name: String, condition: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be alphanumeric/underscore")
    val snap = snapshot(spark, base)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(!snap.configuration.contains(key),
      s"constraint '$name' already exists on $base")
    validateConstraints(Map(key -> condition), read(spark, base),
      "ADD CONSTRAINT: existing data")
    val proto =
      if (snap.minWriterVersion >= 7)
        Seq(upgradeProtocolJson(snap,
          Set.empty, Set("checkConstraints"), snap.minReaderVersion, 7))
      else if (snap.minWriterVersion >= 3) Seq.empty
      else Seq(s"""{"protocol":{"minReaderVersion":${snap.minReaderVersion},"minWriterVersion":3}}""")
    val v = snap.version + 1
    writeCommit(base, v, proto :+
      metaJson(snap.schema, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration + (key -> condition)),
      operation = "ADD CONSTRAINT")
    v
  }

  /** `ALTER TABLE DROP CONSTRAINT`: metadata-only removal. */
  def dropCheckConstraint(spark: SparkSession, base: String,
                          name: String, ifExists: Boolean = false): Long = {
    val snap = snapshot(spark, base)
    val key = s"delta.constraints.${name.toLowerCase}"
    if (!snap.configuration.contains(key)) {
      if (ifExists) return snap.version
      throw new IllegalArgumentException(s"no constraint '$name' on $base")
    }
    val v = snap.version + 1
    writeCommit(base, v, Seq(
      metaJson(snap.schema, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration - key)),
      operation = "DROP CONSTRAINT")
    v
  }

  /** `ALTER TABLE ... SET TBLPROPERTIES` (minus the column-mapping
    * upgrade, which `enableColumnMapping` owns): one metadata commit
    * merging the properties into the configuration. Properties that
    * would declare contracts this engine does not uphold are refused at
    * WRITE time by the DML layer's feature gate, not silently here. */
  def setProperties(spark: SparkSession, base: String,
                    props: Map[String, String]): Long = {
    require(!props.contains("delta.columnMapping.mode"),
      "column mapping is enabled through enableColumnMapping (it " +
      "assigns ids and physical names), not a raw property set")
    require(!props.contains("delta.enableRowTracking") &&
        !props.keys.exists(_.startsWith("delta.rowTracking.")),
      "row tracking is enabled through enableRowTracking (it backfills " +
      "baseRowIds, raises the protocol and writes the high-water-mark " +
      "domain), not a raw property set")
    val snap = snapshot(spark, base)
    val v = snap.version + 1
    writeCommit(base, v, Seq(
      metaJson(snap.schema, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration ++ props)),
      operation = "SET TBLPROPERTIES")
    v
  }

  /** Upgrade an unmapped table to columnMapping mode `name`, the shape
    * delta-spark's `ALTER TABLE ... SET TBLPROPERTIES
    * ('delta.columnMapping.mode'='name')` produces: every existing
    * field gets a mapping id and physicalName = its CURRENT name — the
    * files on disk carry exactly those names, which is what makes the
    * upgrade metadata-only — the protocol declares the feature, and
    * RENAME/DROP COLUMN become pure logical-schema edits from then on.
    * Mode `id` is not an upgrade target: it resolves by parquet field
    * ids, which pre-upgrade data files do not carry. Idempotent on
    * already-mapped tables. */
  def enableColumnMapping(spark: SparkSession, base: String): Long = {
    val snap = snapshot(spark, base)
    if (snap.columnMappingMode != "none") return snap.version
    val mapped = StructType(snap.schema.fields.zipWithIndex.map {
      case (f, i) =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", i + 1L)
          .putString("delta.columnMapping.physicalName", f.name)
          .build())
    })
    val cfg = snap.configuration ++ Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> snap.schema.size.toString)
    // legacy protocols take the legacy route (reader 2 / writer 5
    // implies columnMapping — feature arrays are INVALID below 3/7);
    // tables already on table features declare it explicitly
    val proto =
      if (snap.minReaderVersion >= 3 || snap.minWriterVersion >= 7)
        upgradeProtocolJson(snap,
          Set("columnMapping"), Set("columnMapping"), 3, 7)
      else {
        val r = math.max(2, snap.minReaderVersion)
        val w = math.max(5, snap.minWriterVersion)
        s"""{"protocol":{"minReaderVersion":$r,"minWriterVersion":$w}}"""
      }
    val v = snap.version + 1
    writeCommit(base, v, Seq(proto,
      metaJson(mapped, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString), cfg)),
      operation = "SET TBLPROPERTIES")
    v
  }

  /** `ALTER TABLE ALTER COLUMN TYPE`: the protocol's TYPE WIDENING
    * table feature (PROTOCOL.md §Type Widening) — metadata-only, like
    * Iceberg's promotion: the commit upgrades to table features with
    * typeWidening in BOTH feature lists (readers that cannot widen
    * must refuse), writes a metaData action whose schemaString carries
    * the wider type, and records the change in the field's
    * `delta.typeChanges` metadata (fromType/toType), the history
    * delta-spark keeps for stats/partition-value reconciliation. Old
    * files keep their narrow physical type; the parquet reader widens
    * at scan (the same machinery the Iceberg promotion rides).
    * Served widenings mirror Iceberg's legal set — int→long,
    * float→double, decimal precision at the same scale — so SQL
    * behaves identically across formats. */
  def widenColumnType(spark: SparkSession, base: String,
                      name: String, to: DataType): Long = {
    val snap = snapshot(spark, base)
    val f = snap.schema.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' in $base"))
    val legal = (f.dataType, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
    require(legal,
      s"'${f.dataType.simpleString}' -> '${to.simpleString}' is not a " +
      "type widening this engine serves (int->long, float->double, " +
      "decimal precision widening at the same scale) — anything else " +
      "would corrupt the values existing files hold")
    val change = new MetadataBuilder()
      .putString("fromType", f.dataType.typeName)
      .putString("toType", to.typeName).build()
    val prior =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty[Metadata]
    val widened = StructType(snap.schema.fields.map { fl =>
      if (fl.name == name)
        fl.copy(dataType = to,
          metadata = new MetadataBuilder().withMetadata(fl.metadata)
            .putMetadataArray("delta.typeChanges", prior :+ change).build())
      else fl
    })
    val v = snap.version + 1
    writeCommit(base, v, Seq(
      upgradeProtocolJson(snap,
        Set("typeWidening"), Set("typeWidening"), 3, 7),
      metaJson(widened, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration)),
      operation = "ALTER COLUMN")
    v
  }

  /** Enable IN-COMMIT TIMESTAMPS (protocol §In-Commit Timestamps):
    * from this commit on, every commit's commitInfo carries a strictly
    * monotone `inCommitTimestamp` that is AUTHORITATIVE for timestamp
    * time travel (file mtime — lost by copies, clock-skewed across
    * writers — stops mattering). The enablement commit itself carries
    * the first ICT and records the enablement version/timestamp
    * properties, so readers can time-travel across the boundary
    * (mtime before, ICT after). Writer feature only — readers that
    * ignore it still read correctly. */
  def enableInCommitTimestamps(spark: SparkSession, base: String): Long = {
    val snap = snapshot(spark, base)
    if (snap.configuration.get("delta.enableInCommitTimestamps")
          .contains("true")) return snap.version
    val v = snap.version + 1
    val ict = math.max(ictClock(),
      io.lastModified(TableIO.join(logDir(base), commitName(snap.version))) + 1)
    writeCommit(base, v, Seq(
      upgradeProtocolJson(snap, Set.empty, Set("inCommitTimestamp"), 3, 7),
      metaJson(snap.schema, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration ++ Map(
          "delta.enableInCommitTimestamps" -> "true",
          "delta.inCommitTimestampEnablementVersion" -> v.toString,
          "delta.inCommitTimestampEnablementTimestamp" -> ict.toString))),
      operation = "SET TBLPROPERTIES", ictOverride = Some(ict))
    v
  }

  /** A commit's effective timestamp: its inCommitTimestamp when the
    * table writes them, else the log file's mtime (the protocol's
    * pre-ICT clock). */
  private def commitTimestamp(base: String, file: String): Long = {
    val p = TableIO.join(logDir(base), file)
    io.readLines(p).headOption.flatMap { line =>
      try Option(mapper.readTree(line).get("commitInfo"))
        .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong()))
      catch { case _: Exception => None }
    }.getOrElse(io.lastModified(p))
  }

  /** `ALTER TABLE RENAME COLUMN`: a pure logical-schema edit under
    * column mapping — the field's mapping id and physicalName ride
    * along unchanged, so no data file, stat key, deletion vector or
    * partitionValues key (all physical-named) is touched; O(1) in
    * table size. Unmapped tables refuse: their files carry the logical
    * name itself, so a metadata rename would silently NULL the column
    * (enable mapping first). Partition-column renames carry through
    * metaData.partitionColumns (logical names by protocol). */
  def renameColumn(spark: SparkSession, base: String,
                   from: String, to: String): Long = {
    val snap = snapshot(spark, base)
    require(snap.columnMappingMode != "none",
      s"RENAME COLUMN on $base requires column mapping (unmapped data " +
      "files carry the logical names, so a metadata-only rename would " +
      "silently NULL the column) — ALTER TABLE ... SET TBLPROPERTIES " +
      "('delta.columnMapping.mode'='name') first")
    require(snap.schema.fieldNames.contains(from),
      s"no column '$from' in $base")
    require(!snap.schema.fieldNames.contains(to),
      s"column '$to' already exists in $base")
    val renamed = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val parts = snap.partitionColumns.map(p => if (p == from) to else p)
    val v = snap.version + 1
    writeCommit(base, v, Seq(
      metaJson(renamed, parts,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration)),
      operation = "RENAME COLUMN")
    v
  }

  /** `ALTER TABLE DROP COLUMNS`: logical-schema narrowing under column
    * mapping — data files keep the physical column as dead weight
    * (reclaimed by the next rewrite of each file), reads simply stop
    * projecting it. Mapping is required for SAFETY, not mechanics: a
    * later re-ADD of the same name gets a fresh id + physical name, so
    * old file data cannot resurrect under the new column — the exact
    * hazard an unmapped drop would create. Partition columns refuse
    * (the table layout depends on them). */
  def dropColumns(spark: SparkSession, base: String,
                  cols: Seq[String]): Long = {
    val snap = snapshot(spark, base)
    require(snap.columnMappingMode != "none",
      s"DROP COLUMN on $base requires column mapping (an unmapped drop " +
      "would let a later re-ADD of the same name resurrect old file " +
      "data) — ALTER TABLE ... SET TBLPROPERTIES " +
      "('delta.columnMapping.mode'='name') first")
    require(cols.nonEmpty, "DROP COLUMNS: no columns given")
    cols.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"no column '$c' in $base"))
    cols.foreach(c => require(!snap.partitionColumns.contains(c),
      s"cannot drop partition column '$c' of $base"))
    val narrowed = StructType(snap.schema.filterNot(f => cols.contains(f.name)))
    require(narrowed.nonEmpty, s"cannot drop every column of $base")
    val v = snap.version + 1
    writeCommit(base, v, Seq(
      metaJson(narrowed, snap.partitionColumns,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration)),
      operation = "DROP COLUMNS")
    v
  }

  /** RESTORE TABLE ... TO VERSION AS OF: one commit that flips the live
    * file set (and metadata — schema evolution rolls back too) to the
    * target version's, exactly as Delta's RESTORE behaves. History is
    * preserved: the restore is a NEW version on top, so the un-restored
    * state remains time-travelable. Metadata-only work EXCEPT the
    * safety check that every restored file still exists on disk — a
    * VACUUM may have deleted them, in which case the restore refuses
    * loudly instead of committing a table that cannot be read (Delta's
    * own failure mode for this). */
  def restore(spark: SparkSession, base: String, versionAsOf: Long): Long = {
    val cur = snapshot(spark, base)
    val tgt = snapshot(spark, base, Some(versionAsOf))
    def key(f: AddFile) = (f.path, f.dv.map(_.uniqueId))
    val curKeys = cur.files.map(key).toSet
    val tgtKeys = tgt.files.map(key).toSet
    // the safety check must cover the restored files' DV bins too:
    // vacuum deletes tombstoned files' DVs (they are not in the live
    // set), so a restore that only checked the parquet would commit a
    // version whose reads then fail on the missing .bin — resolve each
    // DV exactly as vacuum's live set does ("u" UUID bin under the
    // table, "p" absolute path; "i" inline lives in the log itself)
    val root = PathCodec.absNorm(base)
    def requiredPaths(f: AddFile): Seq[String] = {
      val data = resolveDataFile(base, f.path)
      val dvBin = f.dv.flatMap { d =>
        d.storageType match {
          case "u" =>
            val (prefix, uuid) = DeletionVectors.decodeUuid(d.pathOrInlineDv)
            val dir = if (prefix.isEmpty) root else TableIO.join(root, prefix)
            Some(TableIO.join(dir, s"deletion_vector_$uuid.bin"))
          case "p" => Some(d.pathOrInlineDv)
          case _ => None
        }
      }
      Seq(data) ++ dvBin
    }
    val missing = tgt.files.flatMap(f =>
      requiredPaths(f).filterNot(io.exists).map(_ => f))
    require(missing.isEmpty,
      s"cannot RESTORE $base to version $versionAsOf: data files or " +
      s"deletion vectors of ${missing.map(_.path).distinct} were deleted " +
      s"(vacuumed?) — refusing")
    val removes = cur.files.filterNot(f => tgtKeys.contains(key(f)))
    val adds = tgt.files.filterNot(f => curKeys.contains(key(f)))
    val v = cur.version + 1
    // configuration travels WITH the restored metaData — dropping it
    // would strip column mapping from a mapped table (silent NULLs)
    writeCommit(base, v,
      Seq(metaJson(tgt.schema, tgt.partitionColumns,
        cur.tableId.getOrElse(UUID.randomUUID().toString),
        tgt.configuration)) ++
        removes.map(r => removeJson(r.path, r.dv, dataChange = true)) ++
        adds.map(addJson(_, base, dataChange = true)),
      operation = "RESTORE")
    v
  }

  /** CONVERT TO DELTA, Iceberg source, zero copy: a NEW Delta table
    * whose add actions reference the Iceberg table's CURRENT live
    * parquet files by ABSOLUTE path — not one data byte moves (the
    * shape of Delta's own `CONVERT TO DELTA iceberg.`). Identity
    * partition fields become Delta partition columns (values carried
    * verbatim from the manifests' partition records); the manifests'
    * per-file record counts and column bounds convert into `add.stats`
    * (numRecords/minValues/maxValues), so data skipping works from the
    * first read without ever opening a footer. Refused states, each a
    * silent-corruption hazard: merge-on-read deletes (converting only
    * the data files would resurrect soft-deleted rows — compact with
    * `rewriteDataFiles` first), transformed partition specs (Delta has
    * no transform partitioning), and mixed-era partition records after
    * spec evolution. The source table stays intact and independently
    * writable — same shared-files hazard as a shallow clone: the
    * SOURCE's maintenance can delete files the convert references. */
  /** One live Iceberg data file in Delta terms: encoded absolute add
    * path, partition record, translated stats JSON, and (lazily) its
    * merge-on-read delete state — the caller writes `.bin`s only for
    * files it actually (re)adds, so an incremental mirror sync never
    * re-materializes unchanged deletion vectors. */
  private final case class IceFileState(
      rawPath: String, addPath: String,
      partitionValues: Map[String, String], stats: Option[String],
      dv: Option[IceDvPayload])

  private sealed trait IceDvPayload {
    def cardinality: Long
    /** Digest of the SORTED deleted positions — the change-detection
      * key an incremental sync compares against the mirror's recorded
      * DV (encoding-independent: a v3 blob and a positional translation
      * of the same dead rows digest identically). */
    def positionsDigest: String
    /** Write the roaring `.bin` under `dir`, return its descriptor. */
    def writeBin(dir: String): DvDescriptor
  }

  private def digestOfPositions(ps: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ps.sorted.foreach { p =>
      md.update(java.nio.ByteBuffer.allocate(8).putLong(p).array()) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** v3 deletion vector carried VERBATIM — the puffin
    * deletion-vector-v1 frame IS a Delta DV frame (the v3 spec adopted
    * Delta's), so the `.bin` is version byte + blob, no decode. */
  private final case class IceDvBlob(blob: Array[Byte], card: Long)
      extends IceDvPayload {
    def cardinality: Long = card
    lazy val positionsDigest: String = digestOfPositions(
      graft.sources.Puffin.readDvBlob(blob, 0, blob.length,
        "<carried>").toSeq)
    def writeBin(dir: String): DvDescriptor = {
      val uuid = UUID.randomUUID()
      io.mkdirs(dir)
      io.writeBytes(TableIO.join(dir, s"deletion_vector_$uuid.bin"),
        1.toByte +: blob)
      DvDescriptor("u", DeletionVectors.encodeUuid(uuid), Some(1),
        blob.length - 8, card) // size = data bytes (frame minus len+crc)
    }
  }

  /** v2 position deletes for one file, decoded and sequence-gated. */
  private final case class IcePositions(positions: Seq[Long])
      extends IceDvPayload {
    def cardinality: Long = positions.size.toLong
    def positionsDigest: String = digestOfPositions(positions)
    def writeBin(dir: String): DvDescriptor = {
      val uuid = UUID.randomUUID()
      val data = DeletionVectors.dvDataBytes(positions)
      val (bytes, off) = DeletionVectors.dvFileBytes(positions)
      io.mkdirs(dir)
      io.writeBytes(TableIO.join(dir, s"deletion_vector_$uuid.bin"), bytes)
      DvDescriptor("u", DeletionVectors.encodeUuid(uuid), Some(off),
        data.length, positions.size.toLong)
    }
  }

  /** Delta mirror of an Iceberg-primary table (the shape Apache XTable
    * maintains, reversed from UniForm): `_delta_log/` beside the
    * Iceberg `metadata/` under ONE base, over the same data files. The
    * mirrored Iceberg snapshot id rides in the mirror's table
    * configuration; the Delta side is read-only (writeCommit's marker
    * guard). */
  private[graft] val MirrorTrackKey = "graft.mirror.iceberg-snapshot"
  /** Iceberg field id → mirror column name at the LAST sync — the key
    * that lets the next sync tell a RENAME (same id, new name) from a
    * drop+add, exactly as Iceberg's own readers do. */
  private[graft] val MirrorFieldsKey = "graft.mirror.fields"
  private val mirrorMarkerName = ".graft-mirror-of-iceberg"

  private def mirrorFieldsJson(s: StructType): String = {
    val node = mapper.createObjectNode()
    s.fields.foreach { f =>
      if (f.metadata.contains("parquet.field.id"))
        node.put(f.metadata.getLong("parquet.field.id").toString, f.name)
    }
    mapper.writeValueAsString(node)
  }

  private[graft] def isIcebergMirror(base: String): Boolean =
    io.exists(TableIO.join(logDir(base), mirrorMarkerName))

  /** Catch the Delta mirror up to the Iceberg table's current
    * snapshot. First call publishes the zero-copy conversion in place
    * (and drops the read-only marker beside the log); later calls diff
    * the live-file state and publish ONE Delta commit: removes for
    * files the Iceberg side dropped or whose delete state changed,
    * adds (with translated stats + freshly-materialized deletion
    * vectors) for new or changed files — unchanged files and their
    * `.bin`s carry verbatim, so a pure Iceberg append syncs as O(new
    * files) metadata. Schema: added columns mirror; a removed or
    * retyped column refuses (an unmapped Delta mirror cannot express
    * Iceberg's id-based rename/drop — re-create the mirror). A sync
    * that finds itself current is a no-op. */
  private[graft] def syncMirrorFromIceberg(spark: SparkSession,
                                           base: String): Long = {
    val curIce = IcebergInterop.resolveRef(base, "main")
    if (currentVersion(base).isEmpty) {
      io.mkdirs(logDir(base))
      // the marker precedes commit 0 so Delta writers refuse for the
      // whole conversion window, but a FAILED convert (equality
      // deletes, unsupported type) must not leave it beside an empty
      // log — that would poison every later Delta write AND Iceberg
      // maintenance (expireSnapshots pre-syncs mirrors) until someone
      // hand-deletes the file
      val marker = TableIO.join(logDir(base), mirrorMarkerName)
      io.writeString(marker, "iceberg")
      try {
        return convertFromIceberg(spark, base, base,
          configuration = Map(MirrorTrackKey -> curIce.toString,
            MirrorFieldsKey ->
              mirrorFieldsJson(IcebergInterop.currentSparkSchema(base))),
          mirror = true)
      } catch {
        case t: Throwable => io.delete(marker); throw t
      }
    }
    val snap = snapshot(spark, base)
    val tracked = snap.configuration.get(MirrorTrackKey).map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"$base has a Delta log NOT managed by the Iceberg mirror sync " +
        "— refusing to overwrite a foreign table's log"))
    def strippedShape(s: StructType) = s.fields
      .map(f => (f.name, f.dataType, f.nullable)).toSeq
    if (tracked == curIce &&
        // schema evolution is metadata-ONLY on Iceberg (no new
        // snapshot) — an id-equality no-op check alone would miss an
        // ADD COLUMN forever
        strippedShape(IcebergInterop.currentSparkSchema(base)) ==
          strippedShape(snap.schema))
      return snap.version
    val (schema, partCols, files) = icebergDeltaState(spark, base)
    require(partCols == snap.partitionColumns,
      s"mirror sync of $base: the Iceberg partition spec changed " +
      s"(${partCols.mkString(",")} vs mirrored " +
      s"${snap.partitionColumns.mkString(",")}) — re-create the mirror")
    // ---- id-based schema mirroring ----------------------------------
    // Iceberg evolves by FIELD ID: a rename keeps the id, a drop
    // retires it. The last sync's id→name map (table configuration)
    // tells the two apart; renames/drops then mirror as Delta
    // columnMapping mode `id` with delta.columnMapping.id = the
    // ICEBERG field id — the same ids our Iceberg writer stamps into
    // every data file's parquet schema, so the mapped Delta scan
    // resolves columns exactly like an Iceberg reader would. Tables
    // whose FILES carry no ids (converted ones reading via Iceberg's
    // name mapping) refuse id-based evolution.
    val iceWithIds = IcebergInterop.currentSparkSchema(base)
    def iceIdOf(f: StructField): Long =
      if (f.metadata.contains("parquet.field.id"))
        f.metadata.getLong("parquet.field.id") else -1L
    val newFields: Seq[(Long, StructField)] =
      iceWithIds.fields.toSeq.map(f => iceIdOf(f) -> f)
    val prevIdMap: Map[Long, String] =
      snap.configuration.get(MirrorFieldsKey).map { js =>
        val n = mapper.readTree(js)
        val it = n.fields(); val b = Map.newBuilder[Long, String]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey.toLong -> e.getValue.asText()
        }
        b.result()
      }.getOrElse(
        // a mirror created before the id map existed: seed by NAME
        // match (heals on this sync's write)
        newFields.filter { case (_, f) =>
          snap.schema.fieldNames.contains(f.name) }
          .map { case (id, f) => id -> f.name }.toMap)
    val renames = newFields.flatMap { case (id, f) =>
      prevIdMap.get(id).filter(_ != f.name).map(old => (old, f.name)) }
    val droppedNames = (prevIdMap.keySet -- newFields.map(_._1).toSet)
      .toSeq.map(prevIdMap).filter(snap.schema.fieldNames.contains)
    renames.foreach { case (old, _) =>
      require(!snap.partitionColumns.contains(old),
        s"mirror sync of $base: partition column '$old' renamed — " +
        "carried files key their partition records by the old name; " +
        "re-create the mirror") }
    // legal type promotions mirror as-is (the Delta scan widens narrow
    // old files exactly like the typeWidening feature's reads do);
    // anything else refuses
    var promoted = false
    newFields.foreach { case (id, f) =>
      prevIdMap.get(id).flatMap(old =>
        snap.schema.fields.find(_.name == old))
        .filter(_.dataType != f.dataType).foreach { p =>
          val legal = (p.dataType, f.dataType) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case (a: DecimalType, b: DecimalType) =>
              b.scale == a.scale && b.precision >= a.precision
            case _ => false
          }
          require(legal, s"mirror sync of $base: column '${f.name}' " +
            s"changed ${p.dataType} -> ${f.dataType}, not a legal " +
            "promotion — re-create the mirror")
          promoted = true
        }
    }
    val needMapNow = (renames.nonEmpty || droppedNames.nonEmpty) &&
      snap.columnMappingMode == "none"
    if (needMapNow)
      require(!IcebergInterop.hasNameMapping(base),
        s"mirror sync of $base: the Iceberg schema renamed/dropped a " +
        "column but the data files carry NO field ids (name-mapped " +
        "table) — an id-mapped Delta mirror cannot resolve them; " +
        "re-create the mirror")
    val mapped = needMapNow || snap.columnMappingMode == "id"
    val mirrorSchema: StructType =
      if (!mapped) schema
      else StructType(iceWithIds.fields.map { f =>
        f.copy(metadata = new MetadataBuilder()
          .putLong("delta.columnMapping.id", iceIdOf(f))
          .putString("delta.columnMapping.physicalName", f.name)
          .build())
      })
    // maxColumnId must NEVER decrease (Delta spec invariant external
    // readers validate) — after the Iceberg side drops its highest-id
    // column, max(current ids) alone would regress it
    val prevMaxColId = snap.configuration
      .get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)
    val mappingCfg: Map[String, String] =
      if (!mapped) Map.empty
      else Map("delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" ->
          math.max(newFields.map(_._1).max, prevMaxColId).toString)
    // live-state diff on (path, deleted-positions digest)
    val prevByPath: Map[String, AddFile] =
      snap.files.map(f => f.path -> f).toMap
    def prevDigest(f: AddFile): Option[String] =
      f.dv.filter(_.cardinality > 0)
        .map(d => digestOfPositions(resolveDvPositions(base, d).toSeq))
    def newDigest(f: IceFileState): Option[String] =
      f.dv.filter(_.cardinality > 0).map(_.positionsDigest)
    val newByPath = files.map(f => f.addPath -> f).toMap
    val removes = snap.files.filter { f =>
      !newByPath.contains(f.path) ||
        newDigest(newByPath(f.path)) != prevDigest(f)
    }
    val adds = files.filter { f =>
      !prevByPath.contains(f.addPath) ||
        prevDigest(prevByPath(f.addPath)) != newDigest(f)
    }.map(f => AddFile(f.addPath, f.partitionValues,
      f.dv.filter(_.cardinality > 0).map(_.writeBin(base)), f.stats))
    // feature obligations this sync introduces: a first DV, a first
    // type promotion, a first id-mapping — declared in ONE protocol
    // action (feature route when anything needs 3/7; mapping alone on
    // a legacy protocol takes the legacy reader-2/writer-5 route,
    // feature arrays being INVALID below 3/7)
    val needDvProto = adds.exists(_.dv.isDefined) &&
      !snap.protocolFeatures.contains("deletionVectors")
    val needWiden = promoted &&
      !snap.protocolFeatures.contains("typeWidening")
    val addFeat =
      (if (needDvProto) Set("deletionVectors") else Set.empty[String]) ++
      (if (needWiden) Set("typeWidening") else Set.empty) ++
      (if (needMapNow) Set("columnMapping") else Set.empty)
    val protoLines =
      if (addFeat.isEmpty) Nil
      else if (needDvProto || needWiden ||
               snap.minReaderVersion >= 3 || snap.minWriterVersion >= 7)
        List(upgradeProtocolJson(snap, addFeat, addFeat, 3, 7))
      else
        List(s"""{"protocol":{"minReaderVersion":${
          math.max(2, snap.minReaderVersion)},"minWriterVersion":${
          math.max(5, snap.minWriterVersion)}}}""")
    val lines = protoLines ++
      List(metaJson(mirrorSchema, partCols,
        snap.tableId.getOrElse(UUID.randomUUID().toString),
        snap.configuration ++ mappingCfg +
          (MirrorTrackKey -> curIce.toString) +
          (MirrorFieldsKey -> mirrorFieldsJson(iceWithIds)))) ++
      removes.map(r => removeJson(r.path, r.dv, dataChange = true)) ++
      adds.map(addJson(_, base))
    writeCommit(base, snap.version + 1, lines, operation = "MIRROR SYNC",
      allowMirror = true)
    snap.version + 1
  }

  def convertFromIceberg(spark: SparkSession, iceBase: String,
                         dstBase: String,
                         configuration: Map[String, String] = Map.empty,
                         mirror: Boolean = false): Long = {
    require(currentVersion(dstBase).isEmpty,
      s"convert target is already a Delta table: $dstBase")
    val (schema, partCols, files) = icebergDeltaState(spark, iceBase)
    io.mkdirs(dstBase)
    val adds = files.map(f => AddFile(f.addPath, f.partitionValues,
      f.dv.map(_.writeBin(dstBase)), f.stats))
    // carried DVs oblige the feature protocol (reader 3 / writer 7 +
    // deletionVectors), exactly as a DV-writing DELETE would declare
    val proto =
      if (adds.forall(_.dv.isEmpty)) protocolJson
      else """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}"""
    writeCommit(dstBase, 0L,
      Seq(proto,
        metaJson(schema, partCols, UUID.randomUUID().toString,
          configuration)) ++
        adds.map(addJson(_, dstBase)),
      operation = "CONVERT", allowMirror = mirror)
    0L
  }

  /** The full Delta-shaped state of an Iceberg table's CURRENT
    * snapshot: Spark schema (field-id metadata stripped — Delta
    * resolves by name), identity partition columns, and one
    * [[IceFileState]] per live data file (stats translated from the
    * manifests' bounds, merge-on-read delete state as a lazy payload).
    * Shared by the one-shot CONVERT and the live Delta mirror. */
  private def icebergDeltaState(spark: SparkSession, iceBase: String)
      : (StructType, Seq[String], Seq[IceFileState]) = {
    val ice = IcebergInterop.snapshot(spark, iceBase)
    // position deletes CARRY (translated to deletion vectors below —
    // one coordinate system); equality deletes have no Delta analogue:
    // their value-match semantics would need a scan to positionalize
    require(ice.eqDeletes.isEmpty,
      s"CONVERT of $iceBase: live equality deletes " +
      s"(${ice.eqDeletes.size}) have no Delta encoding — run " +
      "IcebergInterop.positionalizeEqualityDeletes first (one scan, " +
      "no data-file rewrite) or rewriteDataFiles (compaction)")
    require(ice.specFields.forall(_.transform == "identity"),
      s"CONVERT of $iceBase: transformed partition spec (" +
      ice.specFields.filterNot(_.transform == "identity")
        .map(f => s"${f.name}=${f.transform}").mkString(",") +
      ") — Delta has no transform partitioning; only identity converts")
    require(ice.uniformSpec,
      s"CONVERT of $iceBase: live files predate the last partition " +
      "evolution (mixed-era partition records) — rewriteDataFiles first")
    // field-id metadata stays OUT of the Delta schema (it is Iceberg's
    // resolution mechanism; Delta resolves by name here)
    val schema = StructType(ice.schema.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val partCols = ice.partitionColumns
    val idOf: Map[String, Int] = ice.fieldNamesById.map(_.swap)
    def jsonValue(o: com.fasterxml.jackson.databind.node.ObjectNode,
                  name: String, dt: DataType, decoded: Any): Boolean =
      (dt, decoded) match {
        case (ByteType | ShortType | IntegerType | LongType, l: Long) =>
          o.put(name, l); true
        case (FloatType | DoubleType, d: Double) =>
          if (d.isNaN || d.isInfinite) false else { o.put(name, d); true }
        case (StringType, s: String) => o.put(name, s); true
        case (DateType, epochDay: Long) =>
          o.put(name, java.time.LocalDate.ofEpochDay(epochDay).toString); true
        case (TimestampType, us: Long) =>
          o.put(name, java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            Math.floorMod(us, 1000000L) * 1000L).toString); true
        case (TimestampNTZType, us: Long) =>
          o.put(name, java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC).toString); true
        case (_, d: java.math.BigDecimal) => o.put(name, d); true
        case _ => false
      }
    def statsOf(f: IcebergInterop.DataFileEntry): Option[String] = {
      if (f.recordCount < 0) return None
      val root = mapper.createObjectNode()
      root.put("numRecords", f.recordCount)
      val mnO = mapper.createObjectNode(); val mxO = mapper.createObjectNode()
      schema.fields.filterNot(fd => partCols.contains(fd.name)).foreach { fd =>
        for (id <- idOf.get(fd.name);
             lo <- f.lowerBounds.get(id); hi <- f.upperBounds.get(id);
             lv <- IcebergInterop.SingleValue.decode(fd.dataType, lo);
             hv <- IcebergInterop.SingleValue.decode(fd.dataType, hi)) {
          // min and max land together or not at all (asymmetric bounds
          // would skew the admit test)
          val probe = mapper.createObjectNode()
          if (jsonValue(probe, "mn", fd.dataType, lv) &&
              jsonValue(probe, "mx", fd.dataType, hv)) {
            mnO.set[JsonNode](fd.name, probe.get("mn"))
            mxO.set[JsonNode](fd.name, probe.get("mx"))
          }
        }
      }
      root.set[JsonNode]("minValues", mnO)
      root.set[JsonNode]("maxValues", mxO)
      Some(mapper.writeValueAsString(root))
    }
    // merge-on-read delete state → per-file PAYLOADS (no bin written
    // here — the caller materializes bins only for files it actually
    // (re)adds). v3 deletion vectors carry their framed blob bytes
    // verbatim and supersede any position-delete rows for their file;
    // v2 position deletes decode with the sequence gate (a delete
    // applies to data sequences ≤ its own). The grouping collect is
    // bounded by the DELETED row count — the same bitmap-scale cost any
    // DV construction pays. A spec-invalid DV entry missing
    // content_offset/size refuses (slicing with the file length would
    // pull footer bytes into the carried blob).
    val (iceDvs, icePosDels) = ice.deletes.partition(_.dv)
    val blobOf: Map[String, IceDvPayload] = iceDvs.map { d =>
      val off = d.contentOffset.getOrElse(throw new IllegalStateException(
        s"DV entry ${d.path} lacks content_offset (refusing)"))
      val len = d.contentSize.getOrElse(throw new IllegalStateException(
        s"DV entry ${d.path} lacks content_size_in_bytes (refusing)"))
      val blob = io.readBytes(d.path).slice(off.toInt, (off + len).toInt)
      val card =
        if (d.recordCount >= 0) d.recordCount
        else graft.sources.Puffin.readDvBlob(blob, 0, blob.length,
          d.path).length.toLong
      d.referencedDataFile.get -> (IceDvBlob(blob, card): IceDvPayload)
    }.toMap
    val posOf: Map[String, IceDvPayload] =
      if (icePosDels.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{broadcast, col, lit}
        import spark.implicits._
        val delRows = icePosDels.map(d =>
          spark.read.parquet(d.path)
            .select(col("file_path"), col("pos"))
            .withColumn("__dseq", lit(d.seq)))
          .reduce(_ unionByName _)
          .join(broadcast(blobOf.keys.toSeq.toDF("file_path")),
            Seq("file_path"), "left_anti")
        val fileSeq = ice.files.map(f => (f.rawPath, f.seq))
          .toDF("file_path", "__fseq")
        val applicable = delRows
          .join(broadcast(fileSeq), Seq("file_path"))
          .where(col("__dseq") >= col("__fseq"))
          .select(col("file_path"), col("pos")).distinct()
          .as[(String, Long)].collect()
        applicable.groupBy(_._1).map { case (raw, rows) =>
          raw -> (IcePositions(rows.map(_._2).toSeq.sorted): IceDvPayload)
        }.toMap
      }
    val files = ice.files.map { f =>
      val abs = PathCodec.absNorm(f.path)
      IceFileState(f.rawPath,
        // encode the tail only: a leading "//" would parse as a URI
        // authority inside percentEncodePath's quoting constructor
        "/" + PathCodec.percentEncodePath(abs.substring(1)),
        f.partitionValues, statsOf(f),
        blobOf.get(f.rawPath).orElse(posOf.get(f.rawPath)))
    }
    (schema, partCols, files)
  }

  /** CONVERT a set of plain parquet files into a NEW Delta table, zero
    * copy — the engine-side shape of Delta's own
    * `CONVERT TO DELTA parquet.`...`` : one commit whose add actions
    * reference the files by ABSOLUTE path (the same mechanism shallow
    * clones use), no data byte moves. `statsOf` (keyed by the file's
    * normalized absolute path) supplies Delta-style `add.stats` JSON
    * when the caller holds engine-side statistics — graft-log's tracked
    * per-file min/max translate directly, so data skipping works from
    * the first read. Unpartitioned by construction (the callers'
    * sources carry no hive layout). */
  /** `positionDeletes` (file's normalized absolute path → deleted row
    * ordinals) carries the SOURCE's merge-on-read state: the ordinals
    * become per-file deletion vectors (roaring `.bin`s under the new
    * table, "u" storage) and the commit declares the feature protocol —
    * no data file is rewritten. */
  def convertFromParquetFiles(spark: SparkSession, dstBase: String,
                              files: Seq[String], schema: StructType,
                              statsOf: String => Option[String] = _ => None,
                              positionDeletes: Map[String, Seq[Long]] =
                                Map.empty): Long = {
    require(currentVersion(dstBase).isEmpty,
      s"convert target is already a Delta table: $dstBase")
    require(files.nonEmpty, "convertFromParquetFiles: no files to convert")
    val clean = StructType(schema.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    io.mkdirs(dstBase)
    val dvOf: Map[String, DvDescriptor] =
      positionDeletes.filter(_._2.nonEmpty).map { case (p, ps) =>
        val positions = ps.distinct.sorted
        val uuid = UUID.randomUUID()
        val data = DeletionVectors.dvDataBytes(positions)
        val (bytes, off) = DeletionVectors.dvFileBytes(positions)
        io.writeBytes(
          TableIO.join(dstBase, s"deletion_vector_$uuid.bin"), bytes)
        PathCodec.absNorm(p) -> DvDescriptor("u",
          DeletionVectors.encodeUuid(uuid), Some(off), data.length,
          positions.size.toLong)
      }
    val adds = files.map { f =>
      val abs = PathCodec.absNorm(f)
      AddFile("/" + PathCodec.percentEncodePath(abs.substring(1)),
        Map.empty, dvOf.get(abs), statsOf(abs))
    }
    val proto =
      if (dvOf.isEmpty) protocolJson
      else """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}"""
    writeCommit(dstBase, 0L,
      Seq(proto,
        metaJson(clean, Seq.empty, UUID.randomUUID().toString)) ++
        adds.map(addJson(_, dstBase)),
      operation = "CONVERT")
    0L
  }

  /** Shallow clone: a NEW Delta table whose add actions reference the
    * SOURCE table's data files by ABSOLUTE path — zero bytes of data
    * copied (Delta's `CREATE TABLE ... SHALLOW CLONE`). The clone gets
    * the source's schema, partitioning, configuration and protocol and
    * a FRESH table id: it is a different table, so writes/DML/OPTIMIZE
    * land in the clone's own directory and never touch the source.
    * Known hazard, same as the real feature's: the SOURCE's vacuum can
    * delete files the clone still references (the clone's own vacuum
    * cannot — absolute-path files live outside its root and are never
    * walked). Deletion vectors convert to absolute "p" storage so the
    * clone reads the source's bins in place. `versionAsOf` clones a
    * historical version — cheap dev/test snapshots of a 100 TB table. */
  def shallowClone(spark: SparkSession, srcBase: String, dstBase: String,
                   versionAsOf: Option[Long] = None): Long = {
    require(currentVersion(dstBase).isEmpty,
      s"shallow clone target is already a Delta table: $dstBase")
    val snap = snapshot(spark, srcBase, versionAsOf)
    val srcRoot = PathCodec.absNorm(srcBase)
    val adds = snap.files.map { f =>
      val abs = PathCodec.absNorm(resolveDataFile(srcBase, f.path))
      val dv = f.dv.map { d =>
        d.storageType match {
          case "u" =>
            val (prefix, uuid) = DeletionVectors.decodeUuid(d.pathOrInlineDv)
            val dir = if (prefix.isEmpty) srcRoot else TableIO.join(srcRoot, prefix)
            d.copy(storageType = "p",
              pathOrInlineDv = PathCodec.absNorm(
                TableIO.join(dir, s"deletion_vector_$uuid.bin")))
          case _ => d // "p" already absolute; "i" inline travels in the log
        }
      }
      // encode the tail only: a leading "//" would parse as a URI
      // authority inside percentEncodePath's quoting constructor
      f.copy(path = "/" + PathCodec.percentEncodePath(abs.substring(1)),
        dv = dv)
    }
    writeCommit(dstBase, 0L,
      Seq(cloneProtocolJson(snap),
        metaJson(snap.schema, snap.partitionColumns,
          UUID.randomUUID().toString, snap.configuration)) ++
        adds.map(addJson(_, dstBase, dataChange = true)),
      operation = "CLONE")
    0L
  }

  /** The protocol travels with the data it governs: a DV-bearing or
    * mapped source needs its feature declarations in the clone too. */
  private def cloneProtocolJson(snap: DeltaSnapshot): String =
    if (snap.minReaderVersion < 3 && snap.minWriterVersion < 7 &&
        snap.readerFeatureSet.isEmpty && snap.writerFeatureSet.isEmpty) {
      val n = mapper.createObjectNode(); val p = n.putObject("protocol")
      p.put("minReaderVersion", snap.minReaderVersion)
      p.put("minWriterVersion", snap.minWriterVersion)
      mapper.writeValueAsString(n)
    } else upgradeProtocolJson(snap, Set.empty, Set.empty,
      snap.minReaderVersion, snap.minWriterVersion)

  /** Deep clone: an INDEPENDENT Delta table whose data files are
    * hard-linked copies under the clone's own root — same-filesystem
    * instant "copy" that is still fully independent at the file level
    * (an unlink on either side never affects the other, and parquet
    * data files are never rewritten in place). Unlike a shallow clone,
    * the SOURCE's vacuum can never break this one. Relative layout is
    * preserved (partition directories intact); DV bins link in and
    * re-address as self-contained absolute "p" storage under the
    * clone's root. On a real object store this degrades to a server-
    * side copy — the commit shape is identical. */
  def deepClone(spark: SparkSession, srcBase: String, dstBase: String,
                versionAsOf: Option[Long] = None): Long = {
    require(currentVersion(dstBase).isEmpty,
      s"deep clone target is already a Delta table: $dstBase")
    val snap = snapshot(spark, srcBase, versionAsOf)
    val srcRoot = PathCodec.absNorm(srcBase)
    val dstRoot = PathCodec.absNorm(dstBase)
    io.mkdirs(dstRoot)
    val adds = snap.files.zipWithIndex.map { case (f, i) =>
      val src = resolveDataFile(srcBase, f.path)
      val decoded = PathCodec.percentDecode(f.path)
      val (relPath, dst) =
        if (decoded.startsWith("/") || decoded.startsWith("file:")) {
          // absolute source (cloning a shallow clone): flatten into root
          val name = s"clone-$i-${src.split("/").last}"
          (name, TableIO.join(dstRoot, name))
        } else (f.path, TableIO.join(dstRoot, decoded))
      io.mkdirs(dst.split("/").dropRight(1).mkString("/"))
      // local: hard link (zero copy); object store: server-side copy
      io.mirror(src, dst)
      val dv = f.dv.map { d =>
        d.storageType match {
          case "u" =>
            val (prefix, uuid) = DeletionVectors.decodeUuid(d.pathOrInlineDv)
            val sdir = if (prefix.isEmpty) srcRoot else TableIO.join(srcRoot, prefix)
            val sbin = TableIO.join(sdir, s"deletion_vector_$uuid.bin")
            val dbin = TableIO.join(dstRoot, sbin.split("/").last)
            io.mirror(sbin, dbin)
            d.copy(storageType = "p", pathOrInlineDv = PathCodec.absNorm(dbin))
          case "p" =>
            val sbin = d.pathOrInlineDv
            val dbin = TableIO.join(dstRoot, sbin.split("/").last)
            io.mirror(sbin, dbin)
            d.copy(pathOrInlineDv = PathCodec.absNorm(dbin))
          case _ => d // "i" inline travels in the log
        }
      }
      f.copy(path = relPath, dv = dv)
    }
    writeCommit(dstBase, 0L,
      Seq(cloneProtocolJson(snap),
        metaJson(snap.schema, snap.partitionColumns,
          UUID.randomUUID().toString, snap.configuration)) ++
        adds.map(addJson(_, dstBase, dataChange = true)),
      operation = "CLONE")
    0L
  }

  /** Transactionally-idempotent append — the Delta streaming sink
    * contract (protocol §Transaction Identifiers). The commit carries a
    * `txn` action `(appId, version)`; if the table has already recorded
    * `version` (or newer) for `appId`, the append is a NO-OP and the
    * staged data is never written. A micro-batch replayed after a crash
    * between the table commit and the streaming offset commit is thus
    * recognized and skipped — exactly-once end to end. Creates the
    * table (protocol + metaData from `df`'s schema) if absent, so a
    * streaming sink needs no out-of-band DDL. Returns whether the
    * append was applied. */
  def appendIdempotent(df0: DataFrame, base: String, appId: String,
                       txnVersion: Long,
                       partitionBy: Seq[String] = Seq.empty): Boolean = {
    val spark = df0.sparkSession
    val exists = io.isDirectory(logDir(base))
    val snapOpt = if (exists) Some(snapshot(spark, base)) else None
    if (snapOpt.exists(_.txnVersions.get(appId).exists(_ >= txnVersion)))
      return false // replayed batch — skip BEFORE staging any data
    snapOpt.flatMap(s => identityColumnOf(s.schema)).foreach { _ =>
      throw new IllegalArgumentException(
        "appendIdempotent into an identity table is not supported: " +
        "replay-safe id minting needs per-batch mark bookkeeping " +
        "(and GENERATED ALWAYS forbids caller-provided ids) — refusing")
    }
    val df = snapOpt.map(snap => conformToPhysical(snap,
      applyGeneratedColumns(snap.schema, df0, "appendIdempotent")))
      .getOrElse(df0)
    snapOpt.foreach(snap => validateConstraints(snap.configuration,
      asLogical(snap, df), "appendIdempotent"))
    // existing tables: inherit/validate partitioning exactly as
    // `append` does (a flat-staged batch into a partitioned table
    // would read back NULL partition values); staging keys are
    // physical-named on mapped tables
    val effPartitionBy = snapOpt match {
      case Some(snap) =>
        val eff = if (partitionBy.isEmpty) snap.partitionColumns
                  else partitionBy
        require(eff == snap.partitionColumns,
          s"append partitionBy (${partitionBy.mkString(",")}) does not " +
          s"match the table's partitioning " +
          s"(${snap.partitionColumns.mkString(",")})")
        eff.map(snap.physicalName)
      case None => partitionBy
    }
    val adds = collectAddStats(spark, base,
      stageAdds(df, base, effPartitionBy,
        snapOpt.map(_.configuration).getOrElse(Map.empty)),
      StructType(df.schema.filterNot(f => effPartitionBy.contains(f.name))))
    val txnLine = {
      val node = mapper.createObjectNode()
      val t = node.putObject("txn")
      t.put("appId", appId); t.put("version", txnVersion)
      mapper.writeValueAsString(node)
    }
    val header = snapOpt match {
      case Some(_) => Seq.empty
      case None => Seq(protocolJson,
        metaJson(df.schema, partitionBy, UUID.randomUUID().toString))
    }
    writeCommit(base, snapOpt.map(_.version + 1).getOrElse(0L),
      header ++ Seq(txnLine) ++ adds.map(addJson(_, base)),
      operation = "STREAMING UPDATE")
    // the streaming sink is the canonical small-file source: each
    // micro-batch lands a few small files, and auto-compact (when the
    // table opts in) folds them up without the stream pausing
    maybeAutoCompact(spark, base, snapOpt.map(_.configuration).getOrElse(Map.empty))
    true
  }

  /** Write a classic v1 parquet checkpoint of the CURRENT state and the
    * `_last_checkpoint` pointer — the protocol's log-compaction step.
    * Action columns: protocol / metaData / add (one non-null per row). */
  def checkpoint(spark: SparkSession, base: String): Long = {
    // delta.checkpointPolicy routes the layout (delta-spark's own
    // property): 'v2' → UUID-named top file + sidecars, the shape
    // that keeps checkpointing a million-file table off one writer;
    // 'classic' (default) → the single-file v1 form
    val policy = snapshot(spark, base).configuration
      .getOrElse("delta.checkpointPolicy", "classic")
    policy match {
      case "v2" => checkpointV2(spark, base)
      case "classic" => checkpointParts(spark, base, 1)
      case other => throw new IllegalArgumentException(
        s"delta.checkpointPolicy '$other' is not a policy the protocol " +
        "defines (classic | v2)")
    }
  }

  /** Multi-part form (`NNN.checkpoint.<i>.<k>.parquet`), the layout the
    * protocol allows for tables whose action list outgrows one file —
    * all parts are one logical dataset; the reader scans them together.
    * `parts` = 1 degenerates to the classic single-file name. */
  private val cpProtocolType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    // v3/v7 protocols are INVALID without their feature lists — a
    // checkpoint that drops readerFeatures understates what a
    // reader must implement, and a minWriterVersion=7 row without
    // writerFeatures is malformed per the protocol (external
    // delta-spark writers replaying state from this checkpoint
    // would reject it)
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))
  private val cpMetaDataType = StructType(Seq(
    StructField("id", StringType),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    // configuration MUST survive checkpointing: a column-mapped
    // table replayed from a checkpoint that dropped
    // delta.columnMapping.mode would resolve logical names against
    // physical files — every mapped column silently NULL
    StructField("configuration", MapType(StringType, StringType))))
  private val cpAddType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    // DV descriptors MUST survive checkpointing — a checkpoint that
    // drops them silently resurrects every DV-deleted row
    StructField("deletionVector", StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))),
    // stats survive checkpointing or data skipping dies at the
    // first log compaction
    StructField("stats", StringType),
    // row-tracking fields survive checkpointing or every row id
    // silently re-mints after the first log compaction
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType),
    // tags survive checkpointing or clustering state (and any foreign
    // writer's per-file markers) silently resets at compaction
    StructField("tags", MapType(StringType, StringType))))
  private val cpDomainType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))
  // txn state survives checkpointing or a restarted streaming sink
  // whose history was compacted away double-writes its batches
  private val cpTxnType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType)))

  private def cpAddRow(base: String, f: AddFile): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(f.path, f.partitionValues,
      io.length(resolveDataFile(base, f.path)), 0L, true,
      f.dv.map(d => org.apache.spark.sql.Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull,
      f.stats.orNull,
      f.baseRowId.map(Long.box).orNull,
      f.defaultRowCommitVersion.map(Long.box).orNull,
      if (f.tags.nonEmpty) f.tags else null)

  def checkpointParts(spark: SparkSession, base: String, parts: Int): Long = {
    val snap = snapshot(spark, base)
    val cpSchema = StructType(Seq(
      StructField("protocol", cpProtocolType),
      StructField("metaData", cpMetaDataType),
      StructField("add", cpAddType),
      StructField("txn", cpTxnType),
      // domainMetadata survives checkpointing or the row-tracking
      // high-water mark resets and fresh ids collide with live ones
      StructField("domainMetadata", cpDomainType)))
    import org.apache.spark.sql.Row
    // the table's RECORDED protocol, verbatim — reconstructing it from
    // snapshot shape (has DVs? mapped?) would drop any feature the log
    // declares beyond what this engine itself writes (e.g. invariants)
    // feature lists EXIST (possibly empty) exactly when the version
    // demands them — nulling an EMPTY reader-3 list would make the
    // recovery's v3-without-features refusal fire on a legal protocol
    // (e.g. a writer-feature-only table like inCommitTimestamp)
    val protoRow = Row(snap.minReaderVersion, snap.minWriterVersion,
      if (snap.minReaderVersion >= 3) snap.readerFeatureSet.toSeq.sorted
      else null,
      if (snap.minWriterVersion >= 7) snap.writerFeatureSet.toSeq.sorted
      else null)
    val rows =
      Row(protoRow, null, null, null, null) ::
      Row(null, Row("graft-delta", snap.schema.json, snap.partitionColumns,
        snap.configuration), null, null, null) ::
      (snap.txnVersions.toList.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v), null)
      } ++
      snap.domains.toList.sortBy(_._1).map { case (d, cfg) =>
        Row(null, null, null, null, Row(d, cfg, false))
      } ++
      snap.files.map(f => Row(null, null, cpAddRow(base, f), null, null)))
    require(parts >= 1, s"checkpoint parts $parts")
    val scratch = TableIO.join(base, s".cp_${UUID.randomUUID()}")
    val staged = StagedFiles.publish(scratch)(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), cpSchema)
        .write.mode("overwrite").parquet(_)) { p =>
      io.moveReplace(p.path, TableIO.join(logDir(base),
        if (parts == 1) checkpointName(snap.version)
        else f"${snap.version}%020d.checkpoint.${p.index + 1}%010d.${p.count}%010d.parquet"))
    }
    require(staged.nonEmpty, "checkpoint write produced no part file")
    val lc = mapper.createObjectNode()
    lc.put("version", snap.version); lc.put("size", rows.size.toLong)
    if (parts > 1) lc.put("parts", staged.length)
    io.writeString(TableIO.join(logDir(base), "_last_checkpoint"),
      mapper.writeValueAsString(lc))
    snap.version
  }

  /** Write a V2 checkpoint of the CURRENT state (protocol §V2
    * Checkpoint Table Feature — the form current OSS writers produce
    * at scale): the file actions land in `sidecarParts` parquet files
    * under `_delta_log/_sidecars/`, and a UUID-named top-level
    * `NNN.checkpoint.<uuid>.parquet` carries the non-file actions
    * (protocol / metaData / txn) plus one `sidecar` ref per part.
    * Unlike the v1 single file, the file-action set parallelizes
    * across sidecars — the layout that keeps checkpointing a
    * million-file table off a single writer. The table's RECORDED
    * protocol is checkpointed verbatim (same contract as the v1
    * writer): a checkpoint must reflect the latest protocol ACTION —
    * inventing an upgrade here would make checkpoint replay diverge
    * from pure JSON replay. */
  def checkpointV2(spark: SparkSession, base: String,
                   sidecarParts: Int = 1): Long = {
    import org.apache.spark.sql.Row
    require(sidecarParts >= 1, s"sidecar parts $sidecarParts")
    val snap = snapshot(spark, base)
    val log = logDir(base)
    val sidecarDir = TableIO.join(log, "_sidecars"); io.mkdirs(sidecarDir)
    // 1. sidecars: the file actions, parallelized
    val addRows = snap.files.map(f => Row(cpAddRow(base, f)))
    val scratch = TableIO.join(base, s".cp2_${UUID.randomUUID()}")
    val sidecars = StagedFiles.publish(scratch)(
      spark.createDataFrame(
        spark.sparkContext.parallelize(addRows, sidecarParts),
        StructType(Seq(StructField("add", cpAddType))))
        .write.mode("overwrite").parquet(_)) { p =>
      val name = s"${UUID.randomUUID()}.parquet"
      io.move(p.path, TableIO.join(sidecarDir, name))
      name
    }
    require(sidecars.nonEmpty, "v2 checkpoint wrote no sidecar part")
    // 2. the UUID-named top level: non-file actions + sidecar refs
    val topSchema = StructType(Seq(
      StructField("protocol", cpProtocolType),
      StructField("metaData", cpMetaDataType),
      StructField("txn", cpTxnType),
      StructField("domainMetadata", cpDomainType),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType))))))
    val topRows =
      Row(Row(snap.minReaderVersion, snap.minWriterVersion,
        if (snap.minReaderVersion >= 3) snap.readerFeatureSet.toSeq.sorted
        else null,
        if (snap.minWriterVersion >= 7) snap.writerFeatureSet.toSeq.sorted
        else null), null, null, null, null) ::
      Row(null, Row(snap.tableId.getOrElse("graft-delta"), snap.schema.json,
        snap.partitionColumns, snap.configuration), null, null, null) ::
      (snap.txnVersions.toList.sortBy(_._1).map { case (app, v) =>
        Row(null, null, Row(app, v), null, null)
      } ++
      snap.domains.toList.sortBy(_._1).map { case (d, cfg) =>
        Row(null, null, null, Row(d, cfg, false), null)
      } ++
      sidecars.map(n => Row(null, null, null, null,
        Row(n, io.length(TableIO.join(sidecarDir, n)), 0L))))
    val scratch2 = TableIO.join(base, s".cp2top_${UUID.randomUUID()}")
    val top = StagedFiles.publish(scratch2)(
      spark.createDataFrame(
        spark.sparkContext.parallelize(topRows, 1), topSchema)
        .write.mode("overwrite").parquet(_)) { p =>
      io.move(p.path, TableIO.join(log,
        f"${snap.version}%020d.checkpoint.${UUID.randomUUID()}.parquet"))
    }
    if (top.isEmpty) throw new IllegalStateException("no v2 top-level staged")
    val lc = mapper.createObjectNode()
    lc.put("version", snap.version)
    lc.put("size", (topRows.size + addRows.size).toLong)
    io.writeString(TableIO.join(log, "_last_checkpoint"),
      mapper.writeValueAsString(lc))
    snap.version
  }
}
