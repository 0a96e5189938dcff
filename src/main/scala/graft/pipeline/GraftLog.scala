package graft.pipeline

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{StagedFiles, TableIO}

/** graft-log: a minimal self-contained commit-log table format over plain
  * parquet — the zero-dependency stand-in for Delta/Iceberg that
  * BASELINE.json's north star names ("DataFrame read/write with
  * Delta/Iceberg format support"; no delta/iceberg jars exist in this
  * environment). It unifies what `Medallion.writeVersioned` / `upsert` /
  * `compact` did as three separate mechanisms into one table with real
  * transactional semantics:
  *
  *  - **Atomic multi-file commits**: data files land first under unique
  *    names (invisible — readers only see files the log references), then
  *    ONE atomic rename publishes the version's JSON log entry. A crash
  *    mid-commit leaves orphan data files but the previous snapshot fully
  *    readable.
  *  - **Snapshot isolation**: a reader resolves the file list from the log
  *    once; concurrent commits never disturb it (files are immutable and
  *    never deleted by commits — only `vacuum` removes unreferenced ones).
  *  - **Optimistic concurrency**: the version-numbered log filename is the
  *    lock — an atomic-exclusive hard link (`link(2)` fails with EEXIST)
  *    claims the slot, and the loser recomputes against the new head
  *    (same protocol as Delta's `_delta_log`; conditional PUT on object
  *    stores).
  *  - **Time travel** by version or timestamp (each commit records its
  *    wall-clock millis).
  *
  * Layout:
  * {{{
  *   base/
  *     _graft_log/00000000000000000001.json   // {"version":1,"add":[...],"remove":[...]}
  *     <uuid>-<n>.parquet                     // immutable data files
  * }}}
  *
  * 100 TB notes: the log is metadata-scale (one small JSON per commit; a
  * listing of `_graft_log` is the only driver-side work). `upsert` here
  * rewrites the full table — at scale, partition the table and MERGE only
  * touched partitions (the commit protocol already supports it: a commit
  * may remove/add any file subset atomically). Readers pass the resolved
  * file list straight to the parquet scan, so pushdown/pruning/row-group
  * skipping all still apply.
  */
object GraftLog {

  private[pipeline] val mapper = new ObjectMapper()

  /** Per-column stats of one data file. `minMax` holds [min, max] as raw
    * JSON nodes (numeric or text — compared by node type at prune time);
    * `nullCount` additionally serves IS NULL probes (a file with 0 nulls
    * is skipped), and `ndv` is an approximate distinct count (an
    * OPTIMIZER signal — e.g. build-side choice — never a pruning
    * decision, since HLL estimates can err in both directions). All
    * three are optional: absent stats always mean "keep the file". */
  final case class ColStats(minMax: Option[(JsonNode, JsonNode)],
                            nullCount: Option[Long], ndv: Option[Long])
  type FileStats = Map[String, ColStats]

  /** `addDv`/`removeDv` carry DELETION-VECTOR sidecar files (parquet of
    * (__dv_file, __dv_pos) row coordinates) — the merge-on-read DELETE
    * path where data files stay byte-untouched and reads subtract the
    * deleted positions (Delta DVs / Iceberg v2 position deletes). */
  final case class Commit(version: Long, timestampMs: Long, operation: String,
                          add: Seq[String], remove: Seq[String],
                          txnId: Option[String],
                          stats: Map[String, FileStats],
                          schemaJson: Option[String],
                          addDv: Seq[String] = Seq.empty,
                          removeDv: Seq[String] = Seq.empty)

  final case class Snapshot(version: Long, timestampMs: Long,
                            files: Seq[String],
                            fileStats: Map[String, FileStats],
                            schemaJson: Option[String],
                            dvFiles: Seq[String] = Seq.empty)

  // every byte of table state goes through the TableIO seam — the
  // local impl is hard-link POSIX; object-store deployments swap
  // TableIO.current (see TableIO's scaladoc for the operation mapping)
  private def io: TableIO = TableIO()

  private def logDir(base: String) = TableIO.join(base, "_graft_log")

  private def logName(version: Long) = f"$version%020d.json"

  // ------------------------------------------------------------ log I/O

  // Strictly version-named entries only: `.tmp_*.json` staging files
  // also end in .json, and globbing them in would (a) let a reader see
  // an UNCOMMITTED commit (isolation violation) and (b) crash the
  // listing when a concurrent writer's tmp vanishes mid-scan — the
  // thread-race spec caught exactly this.
  private val CommitName = "^[0-9]{20}\\.json$".r

  private[graft] def commits(base: String): Seq[Commit] = {
    // A concurrent vacuum may delete a squashed log entry between our
    // listFiles and readTree — tolerate the vanished file by relisting
    // (the checkpoint that replaced it is already durable, so the fresh
    // listing is consistent), mirroring the resilience the CommitName
    // filter gives against vanished tmp files.
    var attempt = 0
    while (true) {
      try return commitsOnce(base)
      catch {
        case e @ (_: java.io.FileNotFoundException |
                  _: java.nio.file.NoSuchFileException) =>
          attempt += 1
          if (attempt > 5) throw e
      }
    }
    Nil // unreachable
  }

  private def commitsOnce(base: String): Seq[Commit] = {
    val files = io.list(logDir(base))
      .filter(CommitName.matches).sorted
    files.map { f =>
      val n = mapper.readTree(io.readString(TableIO.join(logDir(base), f)))
      def arr(field: String): Seq[String] = {
        val a = n.get(field)
        if (a == null) Seq.empty
        else (0 until a.size()).map(i => a.get(i).asText())
      }
      val stats: Map[String, FileStats] = Option(n.get("stats")).map { s =>
        val fit = s.fieldNames()
        val b = Map.newBuilder[String, FileStats]
        while (fit.hasNext) {
          val f = fit.next()
          val cols = s.get(f)
          val cit = cols.fieldNames()
          val cb = Map.newBuilder[String, ColStats]
          while (cit.hasNext) {
            val c = cit.next()
            val cn = cols.get(c)
            val minMax = for {
              mn <- Option(cn.get("min")); mx <- Option(cn.get("max"))
            } yield (mn, mx)
            cb += c -> ColStats(minMax,
              Option(cn.get("nulls")).map(_.asLong()),
              Option(cn.get("ndv")).map(_.asLong()))
          }
          b += f -> cb.result()
        }
        b.result()
      }.getOrElse(Map.empty)
      Commit(n.get("version").asLong(), n.get("timestampMs").asLong(),
        Option(n.get("operation")).map(_.asText()).getOrElse(""),
        arr("add"), arr("remove"),
        Option(n.get("txnId")).map(_.asText()),
        stats,
        Option(n.get("schemaJson")).map(_.asText()),
        arr("addDv"), arr("removeDv"))
    }
  }

  /** Resolve the visible file set at `version` (default: head), or at the
    * latest commit with timestampMs <= `asOfTimestampMs`. */
  def snapshot(base: String, version: Option[Long] = None,
               asOfTimestampMs: Option[Long] = None): Snapshot = {
    val all = commits(base)
    require(all.nonEmpty, s"no graft-log commits under $base")
    val upTo = (version, asOfTimestampMs) match {
      case (Some(v), _) =>
        val s = all.takeWhile(_.version <= v)
        require(s.nonEmpty && s.last.version == v,
          s"version $v not found under $base (head=${all.last.version})")
        s
      case (None, Some(ts)) =>
        val s = all.takeWhile(_.timestampMs <= ts)
        require(s.nonEmpty, s"no commit at or before timestamp $ts under $base")
        s
      case (None, None) => all
    }
    val live = mutable.LinkedHashSet.empty[String]
    val stats = mutable.Map.empty[String, FileStats]
    val dvs = mutable.LinkedHashSet.empty[String]
    var schema: Option[String] = None
    upTo.foreach { c =>
      // A checkpoint is SELF-CONTAINED: replay resets at it, so log
      // entries that precede it are irrelevant (which is what lets
      // vacuum publish the checkpoint FIRST and delete old entries
      // after — consistent at every intermediate crash point).
      if (c.operation == "checkpoint") { live.clear(); stats.clear(); dvs.clear() }
      c.remove.foreach { f => live.remove(f); stats.remove(f) }
      live ++= c.add
      stats ++= c.stats
      dvs --= c.removeDv
      dvs ++= c.addDv
      if (c.schemaJson.isDefined) schema = c.schemaJson // latest wins
    }
    Snapshot(upTo.last.version, upTo.last.timestampMs, live.toSeq,
      stats.toMap, schema, dvs.toSeq)
  }

  def currentVersion(base: String): Option[Long] = {
    val cs = commits(base)
    if (cs.isEmpty) None else Some(cs.last.version)
  }

  /** Publish a commit: write the JSON to a temp name, then atomically
    * rename it to its version-numbered slot. On collision (concurrent
    * writer won the version) the caller's `retry` recomputes — optimistic
    * concurrency, never a torn commit. Returns the committed version.
    *
    * `txnId` makes the commit IDEMPOTENT (Delta's `txn` action): if a
    * commit carrying the same txnId is already in the log, nothing is
    * written and its version returns — the primitive that lets a
    * streaming sink replay a micro-batch after a crash without
    * double-appending.
    *
    * `expectedVersion` is the READ-dependency guard: operations whose
    * add/remove lists were computed AGAINST a snapshot (upsert, compact)
    * pass the version they read, and the commit fails with
    * ConcurrentModificationException if anyone committed since — silently
    * taking the next slot would publish a remove list that no longer
    * matches the head and duplicate or lose rows. Blind appends (no read
    * dependency) omit it and retry slot races safely. */
  def commit(base: String, operation: String, add: Seq[String],
             remove: Seq[String], maxRetries: Int = 10,
             txnId: Option[String] = None,
             stats: Map[String, FileStats] = Map.empty,
             schemaJson: Option[String] = None,
             expectedVersion: Option[Long] = None,
             addDv: Seq[String] = Seq.empty,
             removeDv: Seq[String] = Seq.empty): Long = {
    io.mkdirs(logDir(base))
    var attempt = 0
    while (true) {
      replayedVersion(base, txnId).foreach(v => return v)
      val head = currentVersion(base).getOrElse(0L)
      expectedVersion.foreach { ev =>
        if (head != ev)
          throw new java.util.ConcurrentModificationException(
            s"graft-log conflict under $base: committed against snapshot " +
              s"v$ev but head is v$head — recompute and retry")
      }
      val next = head + 1
      val node = mapper.createObjectNode()
      node.put("version", next)
      node.put("timestampMs", System.currentTimeMillis())
      node.put("operation", operation)
      val addArr = node.putArray("add"); add.foreach(addArr.add)
      val remArr = node.putArray("remove"); remove.foreach(remArr.add)
      // dv arrays only when present — older logs stay byte-identical
      if (addDv.nonEmpty) {
        val a = node.putArray("addDv"); addDv.foreach(a.add)
      }
      if (removeDv.nonEmpty) {
        val a = node.putArray("removeDv"); removeDv.foreach(a.add)
      }
      txnId.foreach(node.put("txnId", _))
      schemaJson.foreach(node.put("schemaJson", _))
      putStats(node, stats)
      val tmp = TableIO.join(logDir(base), s".tmp_${UUID.randomUUID()}.json")
      io.writeString(tmp, mapper.writeValueAsString(node))
      // Atomic-EXCLUSIVE slot claim (TableIO.putIfAbsent): locally a
      // hard link — link(2) fails with EEXIST if the slot is taken. (A
      // rename would NOT work here — POSIX rename silently REPLACES an
      // existing target, so two racing writers would both "win" the
      // version and one commit would be torn away; the thread-race spec
      // caught exactly that.) Content is fully written before the
      // claim, so readers only ever see complete commit files. On an
      // object store this is a conditional PUT (if-none-match). Real
      // I/O failures (ENOSPC, permissions) propagate from putIfAbsent —
      // only a lost claim counts as a version race.
      if (io.putIfAbsent(tmp, TableIO.join(logDir(base), logName(next))))
        return next
      attempt += 1
      if (attempt > maxRetries)
        throw new java.io.IOException(
          s"graft-log commit lost $maxRetries version races under $base")
    }
    -1L // unreachable
  }

  /** The version a `txnId` already committed as, if any — the replay
    * check that makes a retried idempotent write a no-op. */
  private def replayedVersion(base: String,
                              txnId: Option[String]): Option[Long] =
    txnId.flatMap(id => commits(base).find(_.txnId.contains(id)))
      .map(_.version)

  /** One serializer for per-file stats (commit AND vacuum checkpoint —
    * a squash must not drop fields the incremental commits carried). */
  private def putStats(node: com.fasterxml.jackson.databind.node.ObjectNode,
                       stats: Map[String, FileStats]): Unit = {
    if (stats.isEmpty) return
    val statsNode = node.putObject("stats")
    stats.foreach { case (file, cols) =>
      val fNode = statsNode.putObject(file)
      cols.foreach { case (c, cs) =>
        val cNode = fNode.putObject(c)
        cs.minMax.foreach { case (mn, mx) =>
          cNode.set[JsonNode]("min", mn); cNode.set[JsonNode]("max", mx)
        }
        cs.nullCount.foreach(cNode.put("nulls", _))
        cs.ndv.foreach(cNode.put("ndv", _))
      }
    }
  }

  // ---------------------------------------------------------- data files

  /** Stage a DataFrame's rows as immutable uniquely-named parquet files
    * under `base` (NOT yet visible — only a commit publishes them).
    * Returns the staged file names. */
  def stageFiles(df: DataFrame, base: String): Seq[String] = {
    io.mkdirs(base)
    val id = UUID.randomUUID().toString
    StagedFiles.publish(TableIO.join(base, s".stage_${UUID.randomUUID()}"))(
        df.write.mode("overwrite").parquet(_)) { p =>
      val name = s"$id-${p.index}.parquet"
      io.move(p.path, TableIO.join(base, name))
      name
    }
  }

  /** Stage files AND collect per-file zone maps (min/max) for
    * `statsCols` in ONE extra scan over the staged files (grouped by
    * file, partition-parallel). Supported stat types:
    * integral, floating, string — other types get no stats and are never
    * pruned (conservative). The zone maps ride in the commit JSON, so
    * pruning at read time is a METADATA decision — no file footers are
    * opened for skipped files, which is the property that matters when
    * "files" means a million objects on S3. */
  def stageFilesWithStats(df: DataFrame, base: String,
                          statsCols: Seq[String])
      : (Seq[String], Map[String, FileStats]) = {
    val named = stageFiles(df, base)
    if (statsCols.isEmpty || named.isEmpty) return (named, Map.empty)
    val byPath = StagedFiles.perFile(df.sparkSession,
      named.map(n => TableIO.join(base, n)), statCols = statsCols,
      ndvCols = statsCols.toSet)
    def toNode(v: Any): Option[JsonNode] = v match {
      case null => None
      case i: Int => Some(mapper.getNodeFactory.numberNode(i.toLong))
      case l: Long => Some(mapper.getNodeFactory.numberNode(l))
      case s: Short => Some(mapper.getNodeFactory.numberNode(s.toLong))
      case b: Byte => Some(mapper.getNodeFactory.numberNode(b.toLong))
      case f: Float => Some(mapper.getNodeFactory.numberNode(f.toDouble))
      case d: Double => Some(mapper.getNodeFactory.numberNode(d))
      case s: String => Some(mapper.getNodeFactory.textNode(s))
      case _ => None // unsupported type → no stats → never pruned
    }
    val stats = named.flatMap { name =>
      byPath.get(TableIO.join(base, name)).map { fa =>
        name -> statsCols.map { c =>
          val ca = fa.cols(c)
          val minMax = for (mn <- toNode(ca.min); mx <- toNode(ca.max))
            yield (mn, mx)
          // null count + ndv exist even for types min/max can't encode
          c -> ColStats(minMax, Some(fa.rows - ca.nonNull), ca.ndv)
        }.toMap
      }
    }.toMap
    (named, stats)
  }

  // ----------------------------------------------------------- operations

  /** The table schema a write evolves to: previous log schema plus any
    * NEW columns the incoming frame adds (append-only evolution — Delta's
    * mergeSchema semantics). Same-name columns must keep their type. */
  private def evolvedSchema(prev: Option[org.apache.spark.sql.types.StructType],
                            df: DataFrame): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    prev match {
      case None => df.schema
      case Some(p) =>
        val existing = p.fields.map(f => f.name -> f).toMap
        df.schema.fields.foreach { f =>
          existing.get(f.name).foreach { old =>
            require(old.dataType == f.dataType,
              s"graft-log schema conflict on '${f.name}': " +
                s"${old.dataType} vs ${f.dataType}")
          }
        }
        StructType(p.fields ++ df.schema.fields.filterNot(f =>
          existing.contains(f.name)))
    }
  }

  /** Create-or-replace the table's content in one atomic commit. The
    * incoming frame's schema becomes the table schema (an overwrite may
    * redefine it — Delta's overwriteSchema semantics). */
  def overwrite(df: DataFrame, base: String): Long = {
    val head = currentVersion(base).getOrElse(0L)
    val staged = stageFiles(df, base)
    val prev = if (head > 0) snapshot(base).files else Seq.empty
    // read-dependency guard: the remove list was computed at `head`; a
    // concurrent commit would leave its files wrongly live after this
    // "replace everything" — conflict instead
    commit(base, "overwrite", staged, prev,
      schemaJson = Some(df.schema.json),
      expectedVersion = Some(head))
  }

  /** Append rows in one atomic commit (no existing file is touched).
    * New columns EVOLVE the table schema (old files read them as null);
    * existing columns must keep their type. With `txnId`, a replayed
    * append is a no-op returning the original version (the staged
    * orphan files stay invisible; `vacuum` sweeps them). */
  def append(df: DataFrame, base: String,
             txnId: Option[String] = None): Long = {
    import org.apache.spark.sql.types.StructType
    // cheap pre-check: skip even the staging write on a known replay
    replayedVersion(base, txnId).getOrElse {
      val staged = stageFiles(df, base) // immutable; reused across retries
      TableIO.retryOnConflict(TableIO.RebaseRetries) { _ =>
        // Schema-evolution race guard: the evolved schema is computed
        // against the head read HERE. A plain same-schema append has no
        // read dependency and commits blind (slot races retry inside
        // `commit`); but when this append CHANGES the log schema, two
        // concurrent evolvers would latest-wins-drop each other's new
        // column — so an evolving append carries expectedVersion, and
        // the loser recomputes the merge against the new head and
        // retries.
        val head = currentVersion(base).getOrElse(0L)
        val prevJson = if (head > 0) snapshot(base).schemaJson else None
        val schema = evolvedSchema(
          prevJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType]), df)
        val evolves = !prevJson.contains(schema.json)
        commit(base, "append", staged, Seq.empty, txnId = txnId,
          schemaJson = Some(schema.json),
          expectedVersion = if (evolves) Some(head) else None)
      }
    }
  }

  /** Schema evolution without data: ADD COLUMN(s) as ONE metadata-only
    * commit carrying the widened schemaJson (the `ALTER TABLE ADD
    * COLUMNS` shape; appends already evolve implicitly, but DDL must
    * not require fabricating rows). No file is touched — existing files
    * lack the new parquet columns and the explicit-read-schema scan
    * returns NULL for them, so evolution is O(1) in table size. New
    * columns are forced nullable. `expectedVersion` guards the
    * read-compute-commit cycle: a concurrent evolver's schema would
    * otherwise be latest-wins-dropped. */
  def addColumns(base: String,
                 cols: org.apache.spark.sql.types.StructType): Long = {
    import org.apache.spark.sql.types.{DataType, StructType}
    TableIO.retryOnConflict(TableIO.RebaseRetries) { _ =>
      val head = currentVersion(base).getOrElse(throw
        new IllegalArgumentException(s"no graft-log table at $base"))
      val prev = snapshot(base).schemaJson.map(j =>
        DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"graft-log table at $base records no schema — cannot evolve"))
      cols.fieldNames.foreach(n => require(!prev.fieldNames.contains(n),
        s"column '$n' already exists in $base"))
      val widened = StructType(prev.fields ++
        cols.fields.map(_.copy(nullable = true)))
      commit(base, "addColumns", Seq.empty, Seq.empty,
        schemaJson = Some(widened.json), expectedVersion = Some(head))
    }
  }

  /** Schema evolution by REWRITE — the graft-log RENAME/DROP COLUMN
    * shape. The format resolves columns by NAME and records no field
    * ids, so a metadata-only rename would silently NULL the column and
    * a metadata-only drop would let a later re-ADD of the same name
    * RESURRECT old file data (the hazards Delta solves with column
    * mapping and Iceberg with field ids). These are therefore honest
    * copy-on-write: ONE guarded overwrite commit staging the projected
    * table — O(table), loud and predictable, deletion vectors folded
    * in. At 100 TB prefer the Delta/Iceberg legs (O(1) metadata) for
    * evolution-heavy schemas, or run these as maintenance. */
  def renameColumnRewrite(spark: SparkSession, base: String,
                          from: String, to: String): Long = {
    val snap = snapshot(base)
    val current = read(spark, base)
    require(current.columns.contains(from), s"no column '$from' in $base")
    require(!current.columns.contains(to),
      s"column '$to' already exists in $base")
    rewriteAs(base, snap, current.withColumnRenamed(from, to),
      "renameColumn")
  }

  def dropColumnsRewrite(spark: SparkSession, base: String,
                         cols: Seq[String]): Long = {
    val snap = snapshot(base)
    val current = read(spark, base)
    require(cols.nonEmpty, "DROP COLUMNS: no columns given")
    cols.foreach(c => require(current.columns.contains(c),
      s"no column '$c' in $base"))
    require(cols.toSet != current.columns.toSet,
      s"cannot drop every column of $base")
    rewriteAs(base, snap, current.drop(cols: _*), "dropColumns")
  }

  /** Type promotion as an HONEST copy-on-write rewrite: graft-log has
    * no per-file schema history to read narrow files through a wider
    * type, so the whole table is cast and rewritten in one atomic
    * commit. Only the lossless widenings are served (int→long,
    * float→double, decimal precision at same scale) — the same legal
    * set Iceberg's metadata-only promotion allows, so SQL behaves
    * identically across formats modulo cost. */
  def promoteColumnRewrite(spark: SparkSession, base: String,
                           name: String,
                           to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val snap = snapshot(base)
    val current = read(spark, base)
    val f = current.schema.fields.find(_.name == name)
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
      "lossless type promotion (int->long, float->double, decimal " +
      "precision widening at the same scale) — anything else would " +
      "corrupt existing values")
    rewriteAs(base, snap, current.withColumn(name,
      org.apache.spark.sql.functions.col(name).cast(to)), "promoteColumn")
  }

  private def rewriteAs(base: String, snap: Snapshot, projected: DataFrame,
                        op: String): Long = {
    val staged = stageFiles(projected, base) // materialized BEFORE commit
    commit(base, op, staged, snap.files,
      schemaJson = Some(projected.schema.json),
      expectedVersion = Some(snap.version),
      removeDv = snap.dvFiles)
  }

  /** MERGE by key: same-key rows replaced, new keys appended — one atomic
    * commit swapping the old file set for the merged one. (At 100 TB:
    * partition the table and rewrite only partitions holding matched
    * keys; the commit protocol is already file-subset-granular.) */
  def upsert(spark: SparkSession, base: String, updates: DataFrame,
             keys: Seq[String]): Long = {
    val snap = snapshot(base)
    val current = read(spark, base)
    val merged = current
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates.select(current.columns.map(col): _*))
    // materialize BEFORE committing: merged still reads the old files
    val staged = stageFiles(merged, base)
    // commit the STAGED frame's schema (union type-widening may differ
    // from the log schema) and guard the read dependency: a concurrent
    // commit since `snap` means our remove list is stale → conflict.
    // Full rewrite → deletion vectors are applied (via read) and dropped.
    commit(base, "upsert", staged, snap.files,
      schemaJson = Some(merged.schema.json),
      expectedVersion = Some(snap.version),
      removeDv = snap.dvFiles)
  }

  /** Partition-scoped MERGE: the same semantics as `upsert`, but only
    * files whose zone-map range on `key` actually CONTAINS an update key
    * are rewritten — every other file survives the commit byte-untouched.
    * This is the 100 TB MERGE shape: on a clustered table a localized
    * update rewrites a handful of files, not the table.
    *
    * Pruning is exact and two-phase, all metadata-scale:
    *  1. per-file [min,max] ranges come straight from the commit log
    *     (driver-side, no file I/O);
    *  2. one broadcast range-join of the update keys against those ranges
    *     marks which files hold >= 1 update key (output is <= nFiles rows).
    * Files without zone-map stats for `key` are conservatively rewritten.
    * Untouched files cannot contain any update key (their range excludes
    * all of them), so skipping them preserves exact MERGE semantics.
    *
    * The rewritten files carry fresh zone maps for `key`, so pruning
    * power survives the merge; the commit removes/adds only the touched
    * subset and carries the snapshot's version as its read dependency
    * (a concurrent commit conflicts instead of tearing). */
  def upsertScoped(spark: SparkSession, base: String, updates0: DataFrame,
                   key: String, txnId: Option[String] = None): Long =
    // replay of an already-committed merge: answer from the log, touch
    // nothing (the idempotence streaming sinks build on). A commit that
    // lands between our snapshot and our commit leaves the whole
    // prune+merge computed against a stale file set — recompute from
    // the new head (staged orphans are swept by vacuum, same as any
    // torn writer).
    replayedVersion(base, txnId).getOrElse(
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        upsertScopedOnce(spark, base, updates0, key, txnId)
      })

  private def upsertScopedOnce(spark: SparkSession, base: String,
                               updates0: DataFrame, key: String,
                               txnId: Option[String]): Long = {
    import org.apache.spark.sql.types.StructType
    val snap = snapshot(base)
    // Conform updates to the TABLE schema (implicit-cast MERGE semantics):
    // the scoped commit keeps the log schema, so a type-widened update
    // frame must be cast down, not silently change the table's types.
    // Values must be representable in the table schema (caller contract).
    val tableSchema = snap.schemaJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(updates0.schema)
    val updates = updates0.select(tableSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val keyType = updates.schema(key).dataType
    val statless = snap.files.filter(f =>
      snap.fileStats.get(f).flatMap(_.get(key)).flatMap(_.minMax).isEmpty)
    val ranged = snap.files.flatMap(f =>
      snap.fileStats.get(f).flatMap(_.get(key)).flatMap(_.minMax).map {
        case (mn, mx) => (f, mn.asText(), mx.asText()) })
    val hit: Seq[String] =
      if (ranged.isEmpty) Seq.empty
      else {
        // nFiles-row broadcast side; JSON min/max round-trip through text
        // and cast back to the key's type (zone maps only hold integral /
        // floating / text, all of which cast losslessly)
        val rangesDf = spark.createDataFrame(ranged.map {
          case (f, mn, mx) => org.apache.spark.sql.Row(f, mn, mx) }.asJava,
          StructType(Seq(
            org.apache.spark.sql.types.StructField("__file",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("__mn",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("__mx",
              org.apache.spark.sql.types.StringType))))
          .select(col("__file"), col("__mn").cast(keyType).as("__mn"),
            col("__mx").cast(keyType).as("__mx"))
        updates.select(col(key).as("__k")).filter(col("__k").isNotNull)
          .join(broadcast(rangesDf),
            col("__k") >= col("__mn") && col("__k") <= col("__mx"))
          .select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSeq // bounded by file count
      }
    val touched = (statless ++ hit).distinct
    val current =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else // dv-aware: a raw read would resurrect dv-deleted rows
        readFiles(spark, base, snap, touched)
    val merged = current
      .join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates.select(current.columns.map(col): _*))
    // Rewritten files must carry stats for EVERY column the snapshot
    // tracks, not just the merge key — otherwise each scoped merge
    // quietly degrades IS NULL pruning / ndv for the other columns to
    // "keep everything" ("pruning power survives the merge" means all
    // of it).
    val statCols = trackedStatCols(snap, tableSchema.fieldNames.toSeq, Seq(key))
    val (staged, stats) = stageFilesWithStats(merged, base, statCols)
    commit(base, "upsert_scoped", staged, touched, stats = stats,
      txnId = txnId,
      schemaJson = snap.schemaJson.orElse(Some(merged.schema.json)),
      expectedVersion = Some(snap.version))
  }

  /** Rewrite the table into ⌈rows / targetRowsPerFile⌉ files — the
    * small-file compaction every incremental sink needs, as one atomic
    * commit. Readers of any in-flight snapshot are undisturbed (old files
    * stay on disk until `vacuum`). With `clusterCols`, the rewrite
    * range-clusters on those columns and records fresh zone maps, so
    * compaction RESTORES pruning power instead of erasing it (a plain
    * hash-repartition compact produces statless files that `readRange`
    * must always keep — right default for unclustered tables, wrong for
    * clustered ones). */
  def compact(spark: SparkSession, base: String,
              targetRowsPerFile: Long,
              clusterCols: Seq[String] = Seq.empty): Long = {
    val snap = snapshot(base)
    val current = read(spark, base)
    // sizing from footers + DV coordinates (metadata scale): at 100 TB
    // a count() here is a full extra pass over the table just to pick
    // the output file count
    val n = liveRowCount(spark, base, snap, snap.files)
    val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    // read-dependency guard, same as upsert: compacting against a stale
    // snapshot must conflict, not silently drop a concurrent commit
    // full rewrite → deletion vectors are applied (via read) and dropped
    if (clusterCols.isEmpty) {
      val staged = stageFiles(current.repartition(files), base)
      commit(base, "compact", staged, snap.files,
        expectedVersion = Some(snap.version), removeDv = snap.dvFiles)
    } else {
      val clustered = current
        .repartitionByRange(files, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
      val (staged, stats) = stageFilesWithStats(clustered, base, clusterCols)
      commit(base, "compact", staged, snap.files, stats = stats,
        expectedVersion = Some(snap.version), removeDv = snap.dvFiles)
    }
  }

  /** Snapshot-schema-pinned parquet reader (schema from the LOG, not
    * from footers: schema evolution works — old files read missing
    * columns as null — and no mergeSchema footer sweep). */
  private def readerFor(spark: SparkSession,
                        snap: Snapshot): org.apache.spark.sql.DataFrameReader =
    snap.schemaJson match {
      case Some(j) => spark.read.schema(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      case None => spark.read
    }

  // ---------------------------------------------------- deletion vectors

  /** Row-coordinate columns recovered from the parquet reader's hidden
    * metadata struct: bare file name + within-file row index — the
    * coordinate system deletion vectors address. Must be added directly
    * on a scan DataFrame (before any join severs `_metadata`). */
  private def withRowCoords(df: DataFrame): DataFrame = df
    .withColumn("__file",
      substring_index(col("_metadata.file_path"), "/", -1))
    .withColumn("__pos", col("_metadata.row_index"))

  /** The deletion-vector entries of the sidecars `dvFiles`:
    * (__dv_file, __dv_pos) pairs. */
  private def dvEntries(spark: SparkSession, base: String,
                        dvFiles: Seq[String]): DataFrame =
    spark.read.parquet(dvFiles.map(f => s"$base/$f"): _*)

  /** Live deletion state as (file name → deleted row ordinals) — the
    * carrier zero-copy CONVERT uses to translate this log's DV sidecars
    * into the target format's own merge-on-read encoding (Delta DVs /
    * Iceberg position deletes share the row-index coordinate system).
    * Collect bounded by the DELETED row count — bitmap scale, the same
    * cost any DV subtraction pays. */
  def deletedPositions(spark: SparkSession,
                       base: String): Map[String, Seq[Long]] = {
    val snap = snapshot(base)
    if (snap.dvFiles.isEmpty) return Map.empty
    import spark.implicits._
    val live = snap.files.toSet
    dvEntries(spark, base, snap.dvFiles)
      .select(col("__dv_file"), col("__dv_pos")).distinct()
      .as[(String, Long)].collect()
      .groupBy(_._1)
      // entries referencing files later rewritten away are dead weight
      .collect { case (f, rs) if live.contains(f) =>
        f -> rs.map(_._2).toSeq.sorted }
  }

  /** Above this many deleted positions the DV anti join falls back from
    * broadcast to a shuffled join — a table carrying more un-purged
    * deletes than this should run `purgeDeletes` anyway. */
  private val DvBroadcastMaxRows = 4000000L

  /** Row count straight from a parquet FOOTER (block metadata) on the
    * driver — no Spark job, no data pages. */
  private def footerRowCountOf(spark: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      spark.sessionState.newHadoopConf()))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  /** LIVE row count of `files` under `snap` from metadata alone:
    * parquet footer row counts minus the distinct DV coordinates that
    * reference those files. Exactly `readFiles(...).count()` — the
    * subtraction anti-join is on distinct coordinates — without the
    * full data scan that a count() pays (at 100 TB, sizing a compaction
    * by re-reading the table is the wrong cost class; footers + DV
    * bitmaps are metadata-scale). */
  private def liveRowCount(spark: SparkSession, base: String,
                           snap: Snapshot, files: Seq[String]): Long = {
    val raw = files.map(f => footerRowCountOf(spark, s"$base/$f")).sum
    if (snap.dvFiles.isEmpty) raw
    else {
      val inSet = files.toSet
      val deleted = deletedPositions(spark, base)
        .collect { case (f, ps) if inSet.contains(f) => ps.size.toLong }.sum
      raw - deleted
    }
  }

  /** Subtract the deletion vectors in the sidecars `dvFiles` from a
    * coordinate-carrying scan frame (from `withRowCoords`): one anti
    * join on (file, pos), broadcast while the DV set is small. The DV
    * row count comes from the sidecars' footers — driver-side, no
    * Spark job (a `dv.count()` launched one per DV-subtracting read,
    * and a table between a vectored delete and its purge is read MANY
    * times). Keeps `__file`/`__pos`. */
  private def subtractDv(spark: SparkSession, base: String,
                         dvFiles: Seq[String],
                         dfWithCoords: DataFrame): DataFrame = {
    if (dvFiles.isEmpty) return dfWithCoords
    val dv = dvEntries(spark, base, dvFiles)
    val dvRows = dvFiles.map(f => footerRowCountOf(spark, s"$base/$f")).sum
    val dvSide = if (dvRows <= DvBroadcastMaxRows) broadcast(dv) else dv
    dfWithCoords.join(dvSide,
      col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"),
      "left_anti")
  }

  /** Scan `names` under the snapshot's schema with its deletion vectors
    * subtracted — the ONE way any read/rewrite path may materialize live
    * rows of dv-carrying files (reading them raw resurrects deletes).
    * With keepCoords every row keeps its `__file`/`__pos` coordinates.
    * An empty `names` opens no data file: the schema-typed empty frame
    * (a schemaless log takes its schema from the snapshot's footers). */
  private def readFiles(spark: SparkSession, base: String, snap: Snapshot,
                        names: Seq[String],
                        keepCoords: Boolean = false): DataFrame = {
    if (names.isEmpty && snap.schemaJson.isDefined)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson.get)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    val df = readerFor(spark, snap).parquet(
      (if (names.isEmpty) snap.files else names).map(f => s"$base/$f"): _*)
    if (names.isEmpty) df.filter(lit(false))
    else if (!keepCoords && snap.dvFiles.isEmpty) df
    else {
      val live = subtractDv(spark, base, snap.dvFiles, withRowCoords(df))
      if (keepCoords) live else live.drop("__file", "__pos")
    }
  }

  /** Read a snapshot (head by default; `version`/`asOfTimestampMs` time-
    * travel). The resolved file list goes straight to the parquet reader —
    * pushdown, pruning and row-group skipping apply as on any scan.
    * Deletion vectors, if any, are subtracted merge-on-read (one
    * broadcast anti join on row coordinates). */
  def read(spark: SparkSession, base: String, version: Option[Long] = None,
           asOfTimestampMs: Option[Long] = None): DataFrame = {
    val snap = snapshot(base, version, asOfTimestampMs)
    readFiles(spark, base, snap, snap.files)
  }

  /** Clustered overwrite: range-partition + sort on `clusterCols`, so
    * every data file covers a disjoint key range, then commit WITH
    * per-file zone maps — the layout+metadata pair that makes
    * `readRange` skip files. The graft-log analogue of
    * `Medallion.writeClustered`, with the min/max moved from parquet
    * footers up into the commit log (a metadata lookup instead of one
    * footer read per file — the difference that matters at a million
    * files). */
  def overwriteClustered(df: DataFrame, base: String,
                         clusterCols: Seq[String], nFiles: Int,
                         statsCols: Seq[String] = Seq.empty): Long = {
    val clustered = df
      .repartitionByRange(nFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    val head = currentVersion(base).getOrElse(0L)
    // statsCols: NON-cluster columns whose null-count/ndv/min-max should
    // still ride in the log (e.g. a nullable payload probed by IS NULL)
    val (staged, stats) =
      stageFilesWithStats(clustered, base, (clusterCols ++ statsCols).distinct)
    val prev = if (head > 0) snapshot(base).files else Seq.empty
    commit(base, "overwrite", staged, prev, stats = stats,
      schemaJson = Some(df.schema.json),
      expectedVersion = Some(head))
  }

  /** Compare strings in Spark's UTF8String (UTF-8 binary = code point)
    * order — the ordering the zone-map min/max were collected under
    * (stageFilesWithStats aggregates with Spark's min/max). Java's
    * String operators order by UTF-16 code unit, which DISAGREES for
    * supplementary-plane characters (surrogate pairs 0xD800.. sort
    * below U+E000..U+FFFF), so using them here falsely pruned files
    * whose max was an emoji — and autoScope applies this pruning to
    * every DELETE/UPDATE census. */
  private def cmpUtf8(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** A zone-map bound as a double: JSON numbers as they are, and the
    * texts "NaN", "Infinity" and "-Infinity" that non-finite doubles
    * are stored as. None for anything else. */
  private def numOf(n: JsonNode): Option[Double] =
    if (n.isNumber) Some(n.asDouble())
    else if (!n.isTextual) None
    else n.asText() match {
      case "NaN" => Some(Double.NaN)
      case "Infinity" => Some(Double.PositiveInfinity)
      case "-Infinity" => Some(Double.NegativeInfinity)
      case _ => None
    }

  /** Spark's double order: NaN above every number and equal to itself
    * (so NaN is the max of any file holding one); -0.0 equals 0.0. */
  private def cmpNum(a: Double, b: Double): Int =
    if (a.isNaN || b.isNaN) java.lang.Boolean.compare(a.isNaN, b.isNaN)
    else if (a < b) -1 else if (a > b) 1 else 0

  /** The snapshot's files that can possibly hold `colName` ∈ [lo, hi],
    * decided purely from commit-log zone maps (files without stats for
    * the column are always kept — pruning is conservative). */
  def candidateFiles(base: String, colName: String, lo: Any, hi: Any,
                     version: Option[Long] = None): Seq[String] =
    candidatesIn(snapshot(base, version), colName, lo, hi)

  private def candidatesIn(snap: Snapshot, colName: String,
                           lo: Any, hi: Any): Seq[String] =
    snap.files.filter { f =>
      snap.fileStats.get(f).flatMap(_.get(colName)).flatMap(_.minMax) match {
        case Some((mn, mx)) => overlaps(mn, mx, Some(lo), Some(hi))
        case None => true
      }
    }

  /** Can a file whose zone map is [mn, mx] hold a value in the
    * (optionally one-sided) range [lo, hi]? An absent side never
    * excludes; a bound of another type than the zone map keeps the
    * file (conservative). */
  private def overlaps(mn: JsonNode, mx: JsonNode,
                          lo: Option[Any], hi: Option[Any]): Boolean = {
    val geLo = lo.forall {
      case l: Number => numOf(mx).forall(cmpNum(_, l.doubleValue()) >= 0)
      case l: String if mx.isTextual => cmpUtf8(mx.asText(), l) >= 0
      case _ => true
    }
    val leHi = hi.forall {
      case h: Number => numOf(mn).forall(cmpNum(_, h.doubleValue()) <= 0)
      case h: String if mn.isTextual => cmpUtf8(mn.asText(), h) <= 0
      case _ => true
    }
    geLo && leHi
  }

  /** `autoScope` against the table head — the inspectable form. */
  def candidateFilesFor(base: String, predicate: Column,
                        version: Option[Long] = None): Seq[String] =
    autoScope(snapshot(base, version), predicate)

  /** Zone-map candidates for every ANALYZABLE conjunct of `predicate`
    * — the automatic form of the explicit `scope` argument (same
    * file-admit contract; `PredicateBounds` derives the ranges, and
    * anything it can't analyze prunes nothing). A DELETE touching 1%
    * of a clustered table's key space opens ~1% of its files for the
    * census, with no caller hint needed. */
  private def autoScope(snap: Snapshot,
                        predicate: Column): Seq[String] = {
    val cs = graft.sources.PredicateBounds.rangeConstraints(
      org.apache.spark.sql.GraftBridge.catalystExpression(predicate))
    if (cs.isEmpty) snap.files
    else snap.files.filter { f =>
      cs.forall { case (c, b) =>
        snap.fileStats.get(f).flatMap(_.get(c)).flatMap(_.minMax) match {
          case Some((mn, mx)) => overlaps(mn, mx, b.lo, b.hi)
          case None => true
        }
      }
    }
  }

  /** The snapshot's files that can possibly hold NULLs of `colName`:
    * a recorded null count of 0 proves absence; missing stats keep the
    * file (conservative). The metadata-only answer to `WHERE col IS
    * NULL` — the probe a min/max zone map can never serve. */
  def candidateFilesIsNull(base: String, colName: String,
                           version: Option[Long] = None): Seq[String] =
    candidatesIsNullIn(snapshot(base, version), colName)

  private def candidatesIsNullIn(snap: Snapshot, colName: String): Seq[String] =
    snap.files.filter { f =>
      snap.fileStats.get(f).flatMap(_.get(colName)).flatMap(_.nullCount) match {
        case Some(n) => n > 0
        case None => true
      }
    }

  /** IS NULL scan with log-level skipping: only files whose recorded
    * null count is nonzero (or unknown) reach the parquet reader. */
  def readIsNull(spark: SparkSession, base: String, colName: String,
                 version: Option[Long] = None): DataFrame = {
    val snap = snapshot(base, version)
    readFiles(spark, base, snap, candidatesIsNullIn(snap, colName))
      .filter(col(colName).isNull)
  }

  /** Log-level approximate distinct count of `colName` across the head
    * snapshot: the SUM of per-file HLL estimates — an UPPER bound when
    * values repeat across files, exact-ish for clustered/disjoint
    * layouts. None if any live file lacks an ndv for the column. An
    * optimizer signal (join-side choice, shuffle sizing) available
    * without touching a single data file. */
  def approxDistinct(base: String, colName: String,
                     version: Option[Long] = None): Option[Long] = {
    val snap = snapshot(base, version)
    val per = snap.files.map(f =>
      snap.fileStats.get(f).flatMap(_.get(colName)).flatMap(_.ndv))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Range scan with log-level data skipping: only zone-map-matching
    * files reach the parquet reader (the exact predicate still applies —
    * zone maps over-approximate). At 100 TB this turns "open every
    * footer" into "read one JSON log". */
  def readRange(spark: SparkSession, base: String, colName: String,
                lo: Any, hi: Any, version: Option[Long] = None): DataFrame = {
    // ONE snapshot resolution: file list and schema must come from the
    // same version (resolving twice let a commit land in between, pairing
    // v_n files with a v_{n+1} schema) — and log replay runs once, not twice.
    val snap = snapshot(base, version)
    readFiles(spark, base, snap, candidatesIn(snap, colName, lo, hi))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Every column any live file tracks stats for (plus `extra`),
    * restricted to columns that exist in the current schema — the set a
    * file-rewriting operation must re-collect so pruning power never
    * degrades behind the caller's back. */
  private def trackedStatCols(snap: Snapshot, schemaFields: Seq[String],
                              extra: Seq[String]): Seq[String] =
    (snap.fileStats.values.flatMap(_.keys).toSeq ++ extra)
      .distinct.filter(schemaFields.contains)

  /** Incremental small-file compaction: fold only files smaller than
    * `minBytes` into ⌈rows/targetRowsPerFile⌉ right-sized ones; every
    * file already at a healthy size SURVIVES the commit untouched. This
    * is the maintenance pass an incremental sink needs — a streaming
    * merge/append lands one small file per micro-batch, and full
    * `compact` would rewrite the whole table to fix a day of batches
    * (Delta's OPTIMIZE shape: bin-pack the small tail only). Size comes
    * from the file listing (one metadata call per file — what an object
    * store's LIST already returns); rewritten files re-collect stats for
    * every tracked column. */
  def compactIncremental(spark: SparkSession, base: String,
                         minBytes: Long, targetRowsPerFile: Long): Long = {
    val snap = snapshot(base)
    val small = snap.files.filter(f =>
      io.length(TableIO.join(base, f)) < minBytes)
    if (small.size <= 1) return snap.version // nothing to fold
    // dv-aware: folding a dv-carrying small file materializes only its
    // survivors (entries pointing at the folded file go stale-harmless —
    // file names are never reused)
    val smallDf = readFiles(spark, base, snap, small)
    // sizing from footers + DV coordinates (metadata scale) — the
    // previous count() re-read the folded tail once just to pick an
    // output file count, then the staged write read it again
    val n = liveRowCount(spark, base, snap, small)
    val nFiles = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    val statCols = trackedStatCols(snap,
      smallDf.schema.fieldNames.toSeq, Seq.empty)
    val (staged, stats) =
      stageFilesWithStats(smallDf.repartition(nFiles), base, statCols)
    commit(base, "compact_incremental", staged, small, stats = stats,
      expectedVersion = Some(snap.version))
  }

  /** The commit history as a DataFrame — version, wall-clock, operation,
    * file add/remove counts, txn marker (Delta's DESCRIBE HISTORY).
    * Metadata-scale: one row per commit, straight from the log. */
  def history(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    commits(base).map(c => (c.version, c.timestampMs, c.operation,
      c.add.size, c.remove.size, c.txnId))
      .toDF("version", "timestamp_ms", "operation", "n_added", "n_removed",
        "txn_id")
  }

  /** RESTORE to an earlier version: one metadata-only commit whose
    * add/remove lists turn the head file set back into the target
    * version's (the Delta `RESTORE TABLE` semantics — history is
    * preserved, the restore itself is a new version on top, and the
    * rolled-over versions stay time-travelable). Deletion-vector
    * sidecars travel with their version: the restored snapshot's DV
    * set replaces the head's. Refuses when a needed data file or DV
    * sidecar has been vacuumed away — committing it anyway would
    * produce a version whose reads fail later, silently. */
  def restore(spark: SparkSession, base: String, versionAsOf: Long): Long = {
    val cur = snapshot(base)
    if (cur.version == versionAsOf) return cur.version
    val tgt = snapshot(base, Some(versionAsOf))
    val missing = (tgt.files ++ tgt.dvFiles)
      .filterNot(f => io.exists(TableIO.join(base, f)))
    require(missing.isEmpty,
      s"cannot RESTORE $base to version $versionAsOf: " +
      s"${missing.mkString(", ")} deleted (vacuumed?) — refusing")
    commit(base, "restore",
      add = tgt.files.diff(cur.files),
      remove = cur.files.diff(tgt.files),
      stats = tgt.fileStats.filter { case (f, _) => !cur.files.contains(f) },
      schemaJson = tgt.schemaJson,
      addDv = tgt.dvFiles.diff(cur.dvFiles),
      removeDv = cur.dvFiles.diff(tgt.dvFiles),
      expectedVersion = Some(cur.version))
  }

  /** Register a snapshot as a temp view, making the table (or any
    * time-travel version of it) reachable from plain `spark.sql` —
    * the SQL surface Delta exposes as `table@v123`. The view pins the
    * file list at registration; re-register to follow the head. */
  def registerView(spark: SparkSession, name: String, base: String,
                   version: Option[Long] = None,
                   asOfTimestampMs: Option[Long] = None): Unit =
    read(spark, base, version, asOfTimestampMs).createOrReplaceTempView(name)

  /** Predicate DELETE with file-level scoping — the third leg of the DML
    * triangle (append / merge / delete). One census scan classifies every
    * candidate file by how many of its rows match the predicate:
    *  - 0 matches   → the file SURVIVES the commit byte-untouched;
    *  - all rows    → the file is dropped with NO rewrite (a pure
    *                  metadata delete — at 100 TB, a delete aligned with
    *                  the clustering boundaries touches zero data bytes);
    *  - some rows   → only those files are rewritten with the survivors.
    * With `scope` = (col, lo, hi) the commit-log zone maps pre-prune the
    * census scan itself: files whose [min,max] on col excludes [lo, hi]
    * never reach the scan. The caller thereby asserts the predicate can
    * only match rows with col ∈ [lo, hi] — the same contract as a
    * partition-predicate DELETE.
    *
    * SQL DELETE semantics: rows where the predicate is NULL are KEPT
    * (only predicate=TRUE deletes). Rewritten files re-collect stats for
    * every tracked column; `txnId` makes the delete replay-idempotent;
    * conflicting concurrent commits retry like `upsertScoped`. A delete
    * matching nothing returns the current version without committing. */
  def delete(spark: SparkSession, base: String, predicate: Column,
             scope: Option[(String, Any, Any)] = None,
             txnId: Option[String] = None): Long =
    replayedVersion(base, txnId).getOrElse(
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        deleteOnce(spark, base, predicate, scope, txnId)
      })

  private def deleteOnce(spark: SparkSession, base: String, predicate: Column,
                         scope: Option[(String, Any, Any)],
                         txnId: Option[String]): Long = {
    import org.apache.spark.sql.types.StructType
    val snap = snapshot(base)
    val candidates = scope match {
      case Some((c, lo, hi)) => candidatesIn(snap, c, lo, hi)
      case None => autoScope(snap, predicate) // zone maps, no hint needed
    }
    if (candidates.isEmpty) return snap.version // zone maps prove a no-op
    // census: ONE scan over the candidates, one output row per file —
    // metadata-scale driver result, and the scan only evaluates the
    // predicate (no payload shuffle: grouping key is the file itself).
    // Counts LIVE rows only (deletion vectors subtracted): a file whose
    // surviving rows all match is a pure-metadata drop even when some of
    // its rows were already dv-deleted.
    val census = readFiles(spark, base, snap, candidates, keepCoords = true)
      .groupBy(col("__file").as("__f"))
      .agg(count(lit(1)).as("__rows"),
        count(when(predicate, lit(1))).as("__hits"))
      .collect()
    def named(uri: String): Option[String] = candidates.find(uri.endsWith)
    val fullDrop = census.iterator.filter(r =>
      r.getAs[Long]("__hits") == r.getAs[Long]("__rows"))
      .flatMap(r => named(r.getString(0))).toSeq
    val partial = census.iterator.filter { r =>
      val h = r.getAs[Long]("__hits"); h > 0 && h < r.getAs[Long]("__rows")
    }.flatMap(r => named(r.getString(0))).toSeq
    if (fullDrop.isEmpty && partial.isEmpty) return snap.version // no match
    val (staged, stats) =
      if (partial.isEmpty) (Seq.empty[String], Map.empty[String, FileStats])
      else {
        // keep predicate-NULL rows: !coalesce(p, false), not !p
        val survivors = readFiles(spark, base, snap, partial)
          .filter(!coalesce(predicate, lit(false)))
        val fields = survivors.schema.fieldNames.toSeq
        stageFilesWithStats(survivors, base,
          trackedStatCols(snap, fields, Seq.empty))
      }
    commit(base, "delete", staged, fullDrop ++ partial, stats = stats,
      txnId = txnId, schemaJson = snap.schemaJson,
      expectedVersion = Some(snap.version))
  }

  /** Copy-on-write UPDATE: files that can hold a match (zone-map
    * auto-scope) take a census; only files with ≥1 matching LIVE row
    * rewrite — matched rows get the SET applied (SQL's SIMULTANEOUS
    * assignment: every RHS sees the original row), survivors copy
    * verbatim, their deletion vectors fold in. Every other file
    * survives the commit byte-untouched — the 100 TB UPDATE shape on
    * a clustered table. Same contract as `delete`: NULL predicate
    * rows don't match, OCC conflict+retry, no-op short-circuit. */
  def updateWhere(spark: SparkSession, base: String, predicate: Column,
                  set: Map[String, Column]): Long =
    TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
      updateOnce(spark, base, autoScope(_, predicate),
        _.withColumn("__upd", coalesce(predicate, lit(false))), set)
    }

  /** UPDATE whose row selection is MEMBERSHIP of `key` in `sourceKeys`
    * — the lowering for `UPDATE t SET ... WHERE k [NOT] IN (SELECT
    * ...)`, with the subquery as a distributed join side instead of a
    * collected driver list. `extra` conjoins a scalar predicate
    * (`... AND v < 10`). NOT IN three-valued edges are the CALLER's
    * contract (as for the vectored deletes): refuse a NULL-producing
    * subquery; a NULL target key compares UNKNOWN so its row is never
    * updated (enforced here). Census scoping: the IN form prunes
    * files by the subquery's [min,max] key range through the same
    * zone maps the scalar path uses. */
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
      val scope = (snap: Snapshot) =>
        if (negated) extra.map(autoScope(snap, _)).getOrElse(snap.files)
        else {
          // one bounded agg over the (persisted) key frame → the same
          // zone-map pruning a scalar range predicate gets
          val mm = flag.agg(min(col(key)), max(col(key))).head()
          if (mm.isNullAt(0)) Seq.empty // empty/all-NULL subquery
          else {
            val ranged = candidatesIn(snap, key, mm.get(0), mm.get(1))
            extra.map(e => ranged.intersect(autoScope(snap, e)))
              .getOrElse(ranged)
          }
        }
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        updateOnce(spark, base, scope, mark, set)
      }
    } finally flag.unpersist()
  }

  /** Shared UPDATE body: `scope` bounds the census to the files that
    * can possibly hold a match (zone maps / key ranges); `mark`
    * appends a boolean `__upd` column — the row selector — to any
    * scan of the table (it runs on BOTH the census and the rewrite
    * scan, so it must be deterministic). */
  private def updateOnce(spark: SparkSession, base: String,
                         scope: Snapshot => Seq[String],
                         mark: DataFrame => DataFrame,
                         set: Map[String, Column]): Long = {
    val snap = snapshot(base)
    val schema = snap.schemaJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).getOrElse(
      throw new IllegalStateException(
        s"graft-log table at $base records no schema — cannot update"))
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"SET column '$c' is not in the table schema"))
    val candidates = scope(snap)
    if (candidates.isEmpty) return snap.version
    // census on LIVE rows (DVs subtracted): which candidates hold a hit
    val liveScan = mark(readFiles(spark, base, snap, candidates, keepCoords = true))
    // the selector and SET expressions evaluate across TWO jobs
    // (census + rewrite) — nondeterminism would select different rows
    // in each; probed on the ANALYZED plan (unresolved exprs claim
    // determinism)
    val probe = liveScan.select(
      (col("__upd") +: set.values.toSeq).zipWithIndex.map {
        case (e, i) => e.as(s"__p$i") }: _*)
    require(!probe.queryExecution.analyzed.exists(p =>
        p.expressions.exists(e => e.resolved && !e.deterministic)),
      "updateWhere requires a deterministic predicate and SET " +
      "expressions (they evaluate in more than one job) — precompute " +
      "random values into a column first")
    val census = liveScan
      .groupBy(col("__file").as("__f"))
      .agg(count(when(col("__upd"), lit(1))).as("__hits"))
      .collect()
    val touched = census.iterator.filter(_.getAs[Long]("__hits") > 0)
      .flatMap(r => candidates.find(r.getString(0).endsWith)).toSeq
    if (touched.isEmpty) return snap.version
    // rewrite ONLY the touched files: SIMULTANEOUS SET via temp columns
    val setTyped = set.toSeq.map { case (c, e) =>
      c -> e.cast(schema(c).dataType) }
    val scan = mark(readFiles(spark, base, snap, touched))
    val withTemps = setTyped.foldLeft(scan) { case (d, (c, e)) =>
      d.withColumn(s"__set_$c", e) }
    val updated = setTyped.foldLeft(withTemps) { case (d, (c, _)) =>
      d.withColumn(c,
        when(col("__upd"), col(s"__set_$c")).otherwise(col(c)))
    }.select(schema.fieldNames.map(col): _*)
    val (staged, stats) = stageFilesWithStats(updated, base,
      trackedStatCols(snap, schema.fieldNames.toSeq, Seq.empty))
    commit(base, "update", staged, touched, stats = stats,
      schemaJson = snap.schemaJson,
      expectedVersion = Some(snap.version))
  }

  /** Merge-on-read DELETE (Delta deletion vectors / Iceberg position
    * deletes): rows matching the predicate are recorded as (file, pos)
    * coordinates in a deletion-vector sidecar — DATA FILES STAY
    * BYTE-UNTOUCHED — and every read path subtracts them with one
    * (broadcast) anti join. The 100 TB shape for small scattered
    * deletes (GDPR row erasure, late-arriving retractions), where the
    * copy-on-write `delete` would rewrite a large fraction of the
    * table's files to remove a few thousand rows. Run `purgeDeletes`
    * periodically to fold accumulated DVs back into data files.
    *
    * Same contract as `delete` otherwise: SQL NULL semantics (only
    * predicate=TRUE deletes), `scope` pre-prunes via zone maps, `txnId`
    * idempotence, OCC conflict+retry, no-op short-circuit. */
  def deleteVectored(spark: SparkSession, base: String, predicate: Column,
                     scope: Option[(String, Any, Any)] = None,
                     txnId: Option[String] = None): Long =
    replayedVersion(base, txnId).getOrElse(
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        deleteVectoredClassified(spark, base,
          scope match {
            case Some((c, lo, hi)) => snap => candidatesIn(snap, c, lo, hi)
            case None => autoScope(_, predicate) // zone maps, no hint needed
          },
          _.filter(coalesce(predicate, lit(false))), txnId)
      })

  /** Semi/anti-join vectored DELETE: rows whose `key` appears (IN) or
    * does not appear (NOT IN) in `sourceKeys` get deletion vectors —
    * the lowering for `DELETE FROM t WHERE k [NOT] IN (SELECT ...)`,
    * with the subquery as a distributed join side instead of a
    * collected driver list. NOT IN three-valued edges follow the
    * Delta primitive's contract: the caller refuses a NULL-producing
    * subquery; `keepNullKeys` keeps NULL-keyed target rows alive (SQL
    * NOT IN compares them UNKNOWN; a bare anti join would delete
    * them). The IN form scopes the census by the subquery's [min,max]
    * key range through the same zone maps the scalar path uses. */
  def deleteVectoredInSource(spark: SparkSession, base: String,
                             sourceKeys: DataFrame, key: String): Long = {
    val src = sourceKeys.select(col(key)).distinct().persist()
    try {
      val scope = (snap: Snapshot) => {
        val mm = src.agg(min(col(key)), max(col(key))).head()
        if (mm.isNullAt(0)) Seq.empty[String] // empty/all-NULL subquery
        else candidatesIn(snap, key, mm.get(0), mm.get(1))
      }
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        deleteVectoredClassified(spark, base, scope,
          _.join(src, Seq(key), "left_semi"), None)
      }
    } finally src.unpersist()
  }

  def deleteVectoredNotInSource(spark: SparkSession, base: String,
                                sourceKeys: DataFrame, key: String,
                                keepNullKeys: Boolean = false): Long = {
    val src = sourceKeys.select(col(key)).distinct().persist()
    try {
      val classify = (scan: DataFrame) => {
        val cand = if (keepNullKeys) scan.filter(col(key).isNotNull)
                   else scan
        cand.join(src, Seq(key), "left_anti")
      }
      TableIO.retryOnConflict(TableIO.RederiveRetries) { _ =>
        deleteVectoredClassified(spark, base, _.files, classify, None)
      }
    } finally src.unpersist()
  }

  /** Shared vectored-delete body: `scope` bounds the classification
    * scan to candidate files; `classify` maps the coordinate-keeping
    * live scan to the rows to delete. */
  private def deleteVectoredClassified(spark: SparkSession, base: String,
                                       scope: Snapshot => Seq[String],
                                       classify: DataFrame => DataFrame,
                                       txnId: Option[String]): Long = {
    val snap = snapshot(base)
    val candidates = scope(snap)
    if (candidates.isEmpty) return snap.version
    // coordinates of NEWLY deleted rows: classifier over live rows only —
    // positions already in a DV are excluded, so replaying an
    // overlapping classifier never double-records a coordinate
    // pinned: the classification scan (parquet read + DV anti join +
    // classifier joins) feeds BOTH the sizing count and the staged
    // sidecar write — without the pin the whole scan runs twice
    val dels = classify(readFiles(spark, base, snap, candidates, keepCoords = true))
      .select(col("__file").as("__dv_file"), col("__pos").as("__dv_pos"))
      .persist()
    try {
      val n = dels.count()
      if (n == 0) return snap.version // no match → no commit
      // right-size the sidecar: DV entries are two small columns
      val parts = math.max(1, math.ceil(n / 4e6).toInt)
      val staged = stageFiles(dels.repartition(parts), base)
      commit(base, "delete_dv", Seq.empty, Seq.empty, txnId = txnId,
        schemaJson = snap.schemaJson, expectedVersion = Some(snap.version),
        addDv = staged)
    } finally dels.unpersist(blocking = false)
  }

  /** Fold accumulated deletion vectors back into the data files: every
    * live file holding >= 1 dv-deleted row is rewritten with only its
    * survivors, every untouched file survives byte-identical, and ALL
    * dv sidecars drop in the same atomic commit. After a purge, reads
    * are anti-join-free again. The merge-on-read maintenance pass —
    * copy-on-write cost, paid once and only for the touched subset. */
  def purgeDeletes(spark: SparkSession, base: String): Long = {
    val snap = snapshot(base)
    if (snap.dvFiles.isEmpty) return snap.version
    val referenced = dvEntries(spark, base, snap.dvFiles)
      .select(col("__dv_file")).distinct()
      .collect().map(_.getString(0)).toSet // bounded by file count
    val touched = snap.files.filter(referenced.contains)
    if (touched.isEmpty)
      // every dv entry points at files later rewritten away — the
      // sidecars are pure dead weight; drop them metadata-only
      return commit(base, "purge", Seq.empty, Seq.empty,
        schemaJson = snap.schemaJson, expectedVersion = Some(snap.version),
        removeDv = snap.dvFiles)
    val survivors = readFiles(spark, base, snap, touched)
    val statCols = trackedStatCols(snap,
      survivors.schema.fieldNames.toSeq, Seq.empty)
    val (staged, stats) = stageFilesWithStats(survivors, base, statCols)
    commit(base, "purge", staged, touched, stats = stats,
      schemaJson = snap.schemaJson, expectedVersion = Some(snap.version),
      removeDv = snap.dvFiles)
  }

  /** Row-level change feed over [fromVersion, toVersion], derived from
    * each commit's file diff: every row of an added file is an `insert`
    * at that commit, every row of a removed file a `delete` (Delta CDF's
    * semantics when no explicit change files exist). A rewriting commit
    * (merge / delete / compact) therefore also emits delete+insert pairs
    * for rows it merely carried over — per-KEY net effects are still
    * exact (carried rows cancel), which is what incremental consumers
    * aggregate; use `diffSnapshots` for the exact net row diff.
    *
    * Planning is metadata-scale (one log read); only files named by
    * commits in range are opened. All files read under the range-end
    * schema — evolution is append-only, so it supersets every older
    * file's schema (new columns read as null). Removed files must still
    * exist on disk: `vacuum` retention bounds how far back the feed
    * reaches, exactly as in Delta. Appends `_change_type`,
    * `_commit_version`, `_commit_timestamp` columns. */
  def readChangeFeed(spark: SparkSession, base: String, fromVersion: Long,
                     toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val all = commits(base)
    require(all.nonEmpty, s"no graft-log commits under $base")
    val upTo = toVersion.map(v => all.takeWhile(_.version <= v)).getOrElse(all)
    val schema = upTo.flatMap(_.schemaJson).lastOption.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
    // dv sidecar set visible BEFORE each commit: a removed file's rows
    // that an earlier DV already deleted must NOT re-emit as deletes
    // (they left the table at the DV commit, which emitted them)
    val dvBefore = mutable.Map.empty[Long, Seq[String]]
    locally {
      val acc = mutable.LinkedHashSet.empty[String]
      upTo.foreach { c =>
        if (c.operation == "checkpoint") {
          dvBefore(c.version) = Seq.empty
          acc.clear(); acc ++= c.addDv
        } else {
          dvBefore(c.version) = acc.toSeq
          acc --= c.removeDv; acc ++= c.addDv
        }
      }
    }
    def antiDv(df: DataFrame, dvNames: Seq[String]): DataFrame =
      if (dvNames.isEmpty) df
      else subtractDv(spark, base, dvNames, withRowCoords(df))
        .drop("__file", "__pos")
    val parts = upTo.filter(_.version >= fromVersion).flatMap { c =>
      def stamp(df: DataFrame, ctype: String): DataFrame = df
        .withColumn("_change_type", lit(ctype))
        .withColumn("_commit_version", lit(c.version))
        .withColumn("_commit_timestamp", lit(c.timestampMs))
      def part(files: Seq[String], ctype: String,
               excludeDv: Seq[String]): Option[DataFrame] =
        if (files.isEmpty) None
        else Some(stamp(antiDv(
          reader.parquet(files.map(f => s"$base/$f"): _*), excludeDv), ctype))
      // a delete_dv commit names no files — its deletes are the rows AT
      // the recorded coordinates (one broadcast semi join; the data
      // files must still exist on disk, same retention contract)
      def dvPart: Option[DataFrame] =
        if (c.addDv.isEmpty || c.operation != "delete_dv") None
        else {
          val dv = dvEntries(spark, base, c.addDv)
          val refs = dv.select(col("__dv_file")).distinct()
            .collect().map(_.getString(0)).toSeq // bounded by file count
          Some(stamp(withRowCoords(
              reader.parquet(refs.map(f => s"$base/$f"): _*))
            .join(broadcast(dv),
              col("__file") === col("__dv_file") &&
                col("__pos") === col("__dv_pos"), "left_semi")
            .drop("__file", "__pos"), "delete"))
        }
      part(c.add, "insert", Seq.empty) ++
        part(c.remove, "delete", dvBefore.getOrElse(c.version, Seq.empty)) ++
        dvPart
    }
    parts.reduceOption(_.unionByName(_)).getOrElse {
      val st = StructType(schema.map(_.fields.toSeq).getOrElse(Seq.empty) ++
        Seq(StructField("_change_type", StringType),
          StructField("_commit_version", LongType),
          StructField("_commit_timestamp", LongType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    }
  }

  /** Exact net row-level diff between two snapshots, keyed by `keys`:
    * one row per key whose state changed, `_change_type` ∈
    * insert (key only at v1) / delete (key only at v0) / update (both,
    * any non-key column differs — null-safe struct compare). Emits the
    * v1 values for insert/update and the v0 values for delete. One
    * key-partitioned full-outer join of the two snapshots — the
    * shuffle-minimal shape; unchanged keys are filtered before any
    * further processing. Schema evolution is aligned by reading v0
    * columns missing at v1 as null. */
  def diffSnapshots(spark: SparkSession, base: String, keys: Seq[String],
                    v0: Long, v1: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "diffSnapshots needs at least one key column")
    val pre0 = read(spark, base, Some(v0))
    val post = read(spark, base, v1)
    val cols = post.columns.toSeq
    // align the older snapshot to the newer schema (append-only evolution)
    val pre = pre0.select(cols.map(c =>
      if (pre0.columns.contains(c)) col(c)
      else lit(null).cast(post.schema(c).dataType).as(c)): _*)
    val nonKey = cols.filterNot(keys.contains)
    // lit marker keeps the struct non-empty when every column is a key;
    // struct comparison is null-safe field-wise (interpreted ordering)
    def payload(df: DataFrame, as: String) = df.select(
      keys.map(col) :+ struct(lit(1).as("__present") +: nonKey.map(col): _*)
        .as(as): _*)
    payload(pre, "__pre")
      .join(payload(post, "__post"), keys, "full_outer")
      .withColumn("_change_type",
        when(col("__pre").isNull, lit("insert"))
          .when(col("__post").isNull, lit("delete"))
          .when(col("__pre") =!= col("__post"), lit("update")))
      .filter(col("_change_type").isNotNull)
      .select(keys.map(col) ++ nonKey.map(c =>
        when(col("__post").isNull, col(s"__pre.$c"))
          .otherwise(col(s"__post.$c")).as(c)) :+ col("_change_type"): _*)
  }

  /** Delete data files no snapshot in the retained history references
    * (keeps the last `keepVersions` commits' log entries AND every file
    * any retained snapshot needs). Unreferenced files YOUNGER than
    * `retentionMs` survive: a concurrent writer's staged-but-uncommitted
    * files are unreferenced by construction, and deleting them would
    * tear that writer's commit the moment it publishes (Delta's
    * retention-window contract; pass 0 only when no writer can be
    * in flight). Returns deleted file count. */
  def vacuum(base: String, keepVersions: Int = 1,
             retentionMs: Long = 600000L): Int = {
    // keepVersions = 0 would leave `retained` empty (retained.head crash)
    // and, worse, a log with no snapshot at all
    require(keepVersions >= 1, s"vacuum keepVersions must be >= 1, got $keepVersions")
    val all = commits(base)
    if (all.isEmpty) return 0
    val retained = all.drop(math.max(0, all.size - keepVersions))
    val needed = mutable.Set.empty[String]
    retained.indices.foreach { i =>
      val s = snapshot(base, Some(retained(i).version))
      needed ++= s.files
      needed ++= s.dvFiles // dv sidecars are .parquet in the base dir too
    }
    val dropLog = all.dropRight(keepVersions)
    // Publish the squashed checkpoint FIRST, then delete old log entries
    // and data files: the checkpoint resets replay (see snapshot), so
    // every intermediate crash point leaves a consistent log. The old
    // order (delete entries, then publish) had a window where replay
    // started from an incremental commit and silently lost every file
    // carried forward from dropped commits.
    if (dropLog.nonEmpty) {
      val firstKept = retained.head
      val baseline = snapshot(base, Some(firstKept.version))
      val node = mapper.createObjectNode()
      node.put("version", firstKept.version)
      node.put("timestampMs", firstKept.timestampMs)
      node.put("operation", "checkpoint")
      // keep the squashed-into commit's txn marker; txnIds of DROPPED
      // commits age out with them (same retention contract as Delta's
      // txn appIds — replays older than the kept history re-apply)
      firstKept.txnId.foreach(node.put("txnId", _))
      val addArr = node.putArray("add"); baseline.files.foreach(addArr.add)
      node.putArray("remove")
      // live deletion vectors survive the squash (replay resets at the
      // checkpoint, so un-carried dvs would silently resurrect rows)
      if (baseline.dvFiles.nonEmpty) {
        val dvArr = node.putArray("addDv"); baseline.dvFiles.foreach(dvArr.add)
      }
      // table schema survives the squash
      baseline.schemaJson.foreach(node.put("schemaJson", _))
      // zone maps (incl. null counts / ndv) survive the squash: pruning
      // must not degrade after vacuum
      putStats(node, baseline.fileStats.filter { case (file, _) =>
        baseline.files.contains(file) })
      val tmp = TableIO.join(logDir(base), s".tmp_${UUID.randomUUID()}.json")
      io.writeString(tmp, mapper.writeValueAsString(node))
      io.moveReplace(tmp, TableIO.join(logDir(base), logName(firstKept.version)))
      // only after the checkpoint is durable: drop the squashed entries
      dropLog.foreach(c => io.delete(TableIO.join(logDir(base), logName(c.version))))
    }
    val cutoff = System.currentTimeMillis() - math.max(0L, retentionMs)
    val onDisk = io.list(base).filter(_.endsWith(".parquet"))
    var deleted = 0
    onDisk.foreach { f =>
      if (!needed.contains(f) &&
          io.lastModified(TableIO.join(base, f)) <= cutoff) {
        if (io.delete(TableIO.join(base, f))) deleted += 1
      }
    }
    deleted
  }
}
