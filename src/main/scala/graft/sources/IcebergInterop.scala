package graft.sources

import java.util.UUID

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Apache Iceberg open-format interop from the PUBLIC table spec
  * (iceberg.apache.org/spec): a reader that resolves a Hadoop-catalog
  * table — `metadata/version-hint.text` → `vN.metadata.json` → snapshot
  * → manifest-list avro → manifest avro → parquet data files — plus a
  * minimal conformant writer used for fixtures (correct spec field IDs
  * in the avro schemas, v2 metadata JSON).
  *
  * Scope (documented in BASELINE.md): format v1/v2 reads of
  * parquet-backed append/overwrite histories; refuses delete files
  * (v2 row-level deletes need merge-on-read machinery — refusing loudly
  * beats resurrecting deleted rows). The OSS iceberg-spark runtime jars
  * are unreachable in this offline sandbox, so conformance is proven
  * against spec-format fixtures, including hand-crafted ones.
  *
  * Scale notes:
  *  - metadata resolution reads the manifest LIST on the driver (one
  *    small avro) and fans the per-manifest entry decode over executors
  *    as a Spark job once manifests reach `manifestFanoutThreshold`
  *    (the decode per manifest is independent; below the threshold the
  *    driver walk wins on job-submission overhead);
  *  - unlike Delta, Iceberg data files CONTAIN identity-partition
  *    columns, so no re-attachment pass is needed;
  *  - resolved files go to the parquet reader as one multi-path scan
  *    (pushdown / pruning / row-group skipping as on any scan).
  */
object IcebergInterop {
  private val mapper = new ObjectMapper()

  /** Commit clock for snapshot `timestamp-ms` / `last-updated-ms` —
    * INJECTABLE (the `Medallion.toBronze` pattern): fixtures and tests
    * pin deterministic instants so timestamp-as-of travel is
    * reproducible; production commits record wall-clock time. Snapshot
    * timestamps must be non-decreasing for the as-of resolver, which a
    * wall clock and every pinned fixture clock satisfy. */
  @volatile private var clock: () => Long = () => System.currentTimeMillis()
  private val clockLock = new Object

  /** Run `body` with commits stamped by `c` (restored after; concurrent
    * users serialize on the clock). */
  def withClock[T](c: () => Long)(body: => T): T = clockLock.synchronized {
    val old = clock
    clock = c
    try body finally clock = old
  }

  /** A pinned clock yielding `start, start+step, start+2·step, ...` —
    * the deterministic-fixture form of withClock. */
  def tickingClock(start: Long, step: Long = 1000L): () => Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    () => start + step * n.getAndIncrement()
  }

  // ------------------------------------------------------------- reader

  /** One live data file: resolved local path + identity-partition values
    * (stringified, as read from the manifest's partition record; empty
    * for unpartitioned tables). `rawPath` is the file_path string as the
    * manifest records it — position delete files reference data files by
    * that exact string, not by any resolved path. `seq` is the data
    * sequence number (entry-level, inherited from the manifest when
    * absent) that decides which deletes apply. */
  final case class DataFileEntry(path: String,
                                 partitionValues: Map[String, String],
                                 rawPath: String = "",
                                 seq: Long = 0L,
                                 lowerBounds: Map[Int, Array[Byte]] = Map.empty,
                                 upperBounds: Map[Int, Array[Byte]] = Map.empty,
                                 recordCount: Long = -1L,
                                 sizeBytes: Long = -1L,
                                 // spec v3 §Row Lineage: the id of the
                                 // file's first row — explicit in the
                                 // entry or inherited from the manifest
                                 // (resolved at snapshot() time)
                                 firstRowId: Option[Long] = None,
                                 // the snapshot that ADDED the file —
                                 // resolves which schema the file was
                                 // written under (default values)
                                 addedSnapshotId: Long = -1L,
                                 // spec §Sorting: the sort order the
                                 // file's rows were written under
                                 // (None/0 = unsorted)
                                 sortOrderId: Option[Int] = None)

  /** One live position-delete file (v2 merge-on-read): resolved parquet
    * of (file_path, pos) rows + the delete's sequence number.
    * In format v3 the same manifest slot carries DELETION VECTORS
    * (spec v3 §Deletion Vectors): `file_format=PUFFIN` with
    * `referenced_data_file` naming the ONE data file the vector masks
    * and `content_offset`/`content_size_in_bytes` framing the blob —
    * `dv.isDefined` distinguishes the two shapes. */
  final case class PositionDeleteFile(path: String, seq: Long, sizeBytes: Long,
                                      recordCount: Long = -1L,
                                      referencedDataFile: Option[String] = None,
                                      contentOffset: Option[Long] = None,
                                      contentSize: Option[Long] = None) {
    def dv: Boolean = referencedDataFile.isDefined
  }

  /** One live equality-delete file (v2 merge-on-read): resolved parquet
    * whose rows hold the values of the `equality_ids` columns; a data
    * row dies when its values match any delete row null-safely AND its
    * data sequence number is strictly below the delete's (spec §Scan
    * Planning — note the strictness difference from position deletes). */
  final case class EqualityDeleteFile(path: String, seq: Long,
                                      equalityFieldIds: Seq[Int],
                                      sizeBytes: Long,
                                      recordCount: Long = -1L)

  /** One field of a partition spec: `name` keys the manifest partition
    * records, `transform` is the spec string (identity / bucket[N] /
    * truncate[W] / day), `sourceId` the schema field id of the source
    * column, `fieldId` the spec field's own id (1000+; stable across
    * spec evolution — a field kept by a later spec keeps its id). */
  final case class SpecField(name: String, transform: String, sourceId: Int,
                             fieldId: Int = -1)

  /** `specFields` is the DEFAULT spec (what new writes partition by);
    * `specsById` holds every spec the table has ever had — after
    * partition evolution, live data files may still carry partition
    * records of an older spec, and pruning must consult the spec each
    * file was written under (absent field → keep the file). */
  final case class IcebergSnapshot(
      snapshotId: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[DataFileEntry],
      deletes: Seq[PositionDeleteFile] = Seq.empty,
      eqDeletes: Seq[EqualityDeleteFile] = Seq.empty,
      specFields: Seq[SpecField] = Seq.empty,
      fieldNamesById: Map[Int, String] = Map.empty,
      specsById: Map[Int, Seq[SpecField]] = Map.empty,
      defaultSpecId: Int = 0,
      // name-mapped tables (schema.name-mapping.default) were converted
      // from files written WITHOUT parquet field ids — and, for
      // partitioned converts, without their identity-partition columns
      // in the data files (the Delta layout). The read path projects
      // those columns from the manifests' partition tuples (spec
      // §Column Projection).
      nameMapped: Boolean = false,
      formatVersion: Int = 2,
      // snapshot id → the field ids of the schema that snapshot was
      // committed under (spec: snapshots record their schema-id) — how
      // default-value reads decide whether a file physically carries a
      // later-added column
      fieldIdsAtSnapshot: Map[Long, Set[Int]] = Map.empty,
      // spec §Name Mapping: field id → the FILE column name (first
      // entry of `names`). Differs from the schema name after the
      // SOURCE renamed a column (a mirror of a column-mapped Delta
      // table keeps the physical name here) — the read resolves files
      // under this name and projects back to the schema name
      nameMappingNames: Map[Int, String] = Map.empty) {
    /** True iff every live data file's partition record matches the
      * default spec's field set — i.e. no live file predates the last
      * partition evolution. Maintenance that restamps partition records
      * under the default spec is only sound when this holds. */
    def uniformSpec: Boolean = {
      val want = specFields.map(_.name).toSet
      files.forall(_.partitionValues.keySet == want)
    }
  }

  /** Partition transforms supported by the writer + transform-aware
    * pruning (public spec §Partition Transforms). */
  sealed trait IceTransform { def spec: String; def suffix: String }
  object IceTransform {
    case object Identity extends IceTransform {
      val spec = "identity"; val suffix = "" }
    final case class Bucket(n: Int) extends IceTransform {
      val spec = s"bucket[$n]"; val suffix = "_bucket" }
    final case class Truncate(w: Int) extends IceTransform {
      val spec = s"truncate[$w]"; val suffix = "_trunc" }
    case object Day extends IceTransform {
      val spec = "day"; val suffix = "_day" }
    case object Year extends IceTransform {
      val spec = "year"; val suffix = "_year" }
    case object Month extends IceTransform {
      val spec = "month"; val suffix = "_month" }
    case object Hour extends IceTransform {
      val spec = "hour"; val suffix = "_hour" }

    def parse(s: String): IceTransform = s match {
      case "identity" => Identity
      case "day" => Day
      // spec names are singular; accept the plural API aliases too
      case "year" | "years" => Year
      case "month" | "months" => Month
      case "hour" | "hours" => Hour
      case b if b.startsWith("bucket[") =>
        Bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt)
      case t if t.startsWith("truncate[") =>
        Truncate(t.stripPrefix("truncate[").stripSuffix("]").toInt)
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg partition transform: $other")
    }
  }

  // every byte of table state goes through the TableIO seam — local
  // hard-link POSIX by default; object-store deployments swap
  // TableIO.current (see TableIO's scaladoc for the operation mapping)
  private def io: TableIO = TableIO()

  /** Row-lineage metadata columns (spec v3 §Row Lineage) and their
    * RESERVED field ids: rewritten files materialize them; reads
    * resolve per row as materialized-else-inherited. */
  val RowIdCol = "_row_id"
  val LastUpdatedSeqCol = "_last_updated_sequence_number"
  private val RowIdFieldId = 2147483540L
  private val LastUpdatedSeqFieldId = 2147483539L
  private def lineageIdOf(under: String => Long): String => Long = {
    case RowIdCol => RowIdFieldId
    case LastUpdatedSeqCol => LastUpdatedSeqFieldId
    case n => under(n)
  }
  private def lineageExtras: Seq[StructField] = Seq(
    StructField(RowIdCol, LongType), StructField(LastUpdatedSeqCol, LongType))

  /** Decode a field's recorded default (spec v3 §Default values, JSON
    * single-value serialization) into a Spark literal value. Only the
    * primitive shapes this writer records. */
  private def decodeDefaultJson(raw: String, dt: DataType): Any = {
    val n = mapper.readTree(raw)
    dt match {
      case IntegerType => n.asInt()
      case LongType => n.asLong()
      case FloatType => n.asDouble().toFloat
      case DoubleType => n.asDouble()
      case BooleanType => n.asBoolean()
      case StringType => n.asText()
      case other => throw new IllegalArgumentException(
        s"default value of type $other is not supported")
    }
  }
  private def initialDefaultOf(f: StructField): Option[Any] =
    if (f.metadata.contains("iceberg.initial-default"))
      Some(decodeDefaultJson(
        f.metadata.getString("iceberg.initial-default"), f.dataType))
    else None
  private[sources] def writeDefaultOf(f: StructField): Option[Any] =
    if (f.metadata.contains("iceberg.write-default"))
      Some(decodeDefaultJson(
        f.metadata.getString("iceberg.write-default"), f.dataType))
    else None

  private def metadataDir(base: String) = TableIO.join(base, "metadata")

  /** Latest metadata JSON: version-hint.text if present (Hadoop catalog
    * convention), else the highest vN.metadata.json. */
  private def currentMetadataFile(base: String): String = {
    val dir = metadataDir(base)
    require(io.isDirectory(dir), s"not an Iceberg table (no metadata dir): $base")
    val hint = TableIO.join(dir, "version-hint.text")
    if (io.exists(hint)) {
      val v = io.readString(hint).trim.toLong
      TableIO.join(dir, s"v$v.metadata.json")
    } else {
      val vs = io.list(dir).filter(_.matches("v[0-9]+\\.metadata\\.json"))
      require(vs.nonEmpty, s"no vN.metadata.json under $dir")
      TableIO.join(dir, vs.maxBy(
        _.stripPrefix("v").stripSuffix(".metadata.json").toLong))
    }
  }

  /** The current metadata JSON, parsed — through the storage seam. */
  private def readMeta(base: String): JsonNode =
    mapper.readTree(io.readString(currentMetadataFile(base)))

  /** Iceberg schema JSON → Spark schema (public type mapping from the
    * spec's "Schemas and Data Types" section). */
  private[sources] def icebergTypeToSpark(t: JsonNode): DataType =
    if (t.isTextual) {
      t.asText() match {
        case "boolean" => BooleanType
        case "int" => IntegerType
        case "long" => LongType
        case "float" => FloatType
        case "double" => DoubleType
        case "date" => DateType
        case "string" => StringType
        case "binary" => BinaryType
        case "uuid" => StringType
        case "timestamp" => TimestampNTZType  // no zone → NTZ
        case "timestamptz" => TimestampType   // UTC-adjusted instant
        case s if s.startsWith("decimal(") =>
          val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")").split(",")
          DecimalType(p.trim.toInt, sc.trim.toInt)
        case s if s.startsWith("fixed[") => BinaryType
        // spec v3 §Primitive Types: `unknown` marks a column whose type
        // could not be determined — always optional, never written, all
        // reads produce null. Mapped to a tagged StringType placeholder
        // (the struct branch enforces optionality and stamps the tag);
        // the data files never carry the column, so the scan yields
        // NULLs with no special machinery.
        case "unknown" => NullType
        // v3 types this engine does NOT read — refuse with guidance
        // rather than mis-map (a silently-wrong precision or encoding
        // on a foreign table is worse than an error)
        case s @ ("timestamp_ns" | "timestamptz_ns") =>
          throw new IllegalArgumentException(
            s"Iceberg v3 type '$s' (nanosecond timestamp) is not readable " +
            "by this engine: Spark timestamps are microsecond precision. " +
            "Rewrite the column as timestamp/timestamptz (microseconds), " +
            "or expose the raw nanosecond count as a long in the " +
            "producing engine.")
        // spec v3 §Primitive Types: variant = semi-structured value,
        // stored in parquet as the (metadata binary, value binary)
        // group of the open Variant encoding — exactly what Spark's
        // VariantType reads and writes, so the mapping is direct.
        // Bounds are never written for variant (it is unordered), and
        // the stats scan's orderable() filter already skips it.
        case "variant" => VariantType
        case s if s.startsWith("geometry") || s.startsWith("geography") =>
          throw new IllegalArgumentException(
            s"Iceberg v3 type '$s' is not readable by this engine. " +
            "Expose the well-known-binary bytes as a plain binary column " +
            "in the producing engine.")
        case other => throw new IllegalArgumentException(
          s"unsupported Iceberg type: $other")
      }
    } else t.get("type").asText() match {
      case "struct" =>
        val fields = t.get("fields")
        StructType((0 until fields.size()).map { i =>
          val f = fields.get(i)
          // carry the Iceberg field id as parquet.field.id metadata:
          // Iceberg's column-resolution contract is BY ID, not by name,
          // so a renamed column must still read its original data.
          // Spark's parquet reader honors this metadata when
          // spark.sql.parquet.fieldId.read.enabled is on (read() sets it).
          val mb = new MetadataBuilder()
          Option(f.get("id")).foreach(id =>
            mb.putLong("parquet.field.id", id.asLong()))
          // spec v3 §Default values: carried as field metadata so the
          // read path can fill rows of files that predate the column
          Option(f.get("initial-default")).filterNot(_.isNull).foreach(d =>
            mb.putString("iceberg.initial-default", d.toString))
          Option(f.get("write-default")).filterNot(_.isNull).foreach(d =>
            mb.putString("iceberg.write-default", d.toString))
          val sparkType = icebergTypeToSpark(f.get("type"))
          // `unknown` (v3): the placeholder must stay optional (the
          // spec requires it) and is tagged so nothing ever writes it
          val (finalType, meta) =
            if (sparkType == NullType) {
              require(!f.get("required").asBoolean(),
                s"Iceberg 'unknown'-typed field ${f.get("name").asText()} " +
                "is marked required — the v3 spec requires it optional " +
                "(refusing)")
              mb.putBoolean("iceberg.unknown-type", true)
              (StringType, mb.build())
            } else (sparkType, mb.build())
          StructField(f.get("name").asText(), finalType,
            nullable = !f.get("required").asBoolean(),
            metadata = meta)
        })
      case "list" =>
        ArrayType(icebergTypeToSpark(t.get("element")),
          containsNull = !t.get("element-required").asBoolean())
      case "map" =>
        MapType(icebergTypeToSpark(t.get("key")),
          icebergTypeToSpark(t.get("value")),
          valueContainsNull = !t.get("value-required").asBoolean())
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg nested type: $other")
    }

  /** Rewrite an absolute location recorded in metadata to the local
    * table root (Iceberg paths are absolute URIs; fixtures move). */
  private def resolvePath(base: String, p: String): String = {
    val tail = p.replaceFirst("^[a-z0-9+.-]+://[^/]*", "") // strip scheme+authority
    val name = tail.split("/").last
    if (io.exists(tail)) tail
    else if (tail.contains("/data/") || io.exists(s"$base/data/$name"))
      s"$base/data/$name"
    else s"$base/metadata/$name" // manifests + manifest lists live here
  }

  /** Field access tolerant of absent OPTIONAL spec fields: a v1 manifest
    * list has no `content` column, and GenericRecord.get throws (rather
    * than returning null) on unknown names. */
  private def opt(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None else Option(r.get(name))

  /** Row count from the parquet FOOTER (block metadata) — no data
    * pages, no Spark job; the cheap way to record manifest
    * record_count for a just-staged file. */
  private def footerRowCount(spark: SparkSession, f: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f),
      spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    } finally reader.close()
  }

  private def readAvro(f: String): Seq[GenericRecord] = {
    val reader = DataFileReader.openReader(
      new org.apache.avro.file.SeekableByteArrayInput(io.readBytes(f)),
      new GenericDatumReader[GenericRecord]())
    try {
      val out = mutable.ArrayBuffer.empty[GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.toSeq
    } finally reader.close()
  }

  /** readAvro plus the file's WRITER schema — needed to re-write a
    * filtered copy of a manifest another writer may have produced
    * (compaction must preserve entries byte-compatibly, whatever
    * optional columns that writer used). */
  private def readAvroWithSchema(f: String): (AvroSchema, Seq[GenericRecord]) = {
    val reader = DataFileReader.openReader(
      new org.apache.avro.file.SeekableByteArrayInput(io.readBytes(f)),
      new GenericDatumReader[GenericRecord]())
    try {
      val out = mutable.ArrayBuffer.empty[GenericRecord]
      while (reader.hasNext) out += reader.next()
      (reader.getSchema, out.toSeq)
    } finally reader.close()
  }

  /** Resolve the table state at `snapshotId` (current by default). */
  /** Current table schema from the metadata JSON ALONE — no
    * manifest-list or manifest reads. The cheap path for callers that
    * need only the shape (e.g. append's write-default fill). */
  private[sources] def schemaFromMeta(meta: JsonNode, base: String): StructType = {
    // current schema (schemas list + current-schema-id; v1 fallback "schema")
    val schemaNode = Option(meta.get("schemas")).map { ss =>
      val want = meta.get("current-schema-id").asInt()
      (0 until ss.size()).map(ss.get)
        .find(_.get("schema-id").asInt() == want)
        .getOrElse(throw new IllegalStateException(s"schema-id $want not found"))
    }.orElse(Option(meta.get("schema")))
      .getOrElse(throw new IllegalStateException(s"no schema in metadata of $base"))
    // name-mapped tables (spec §Name Mapping Serialization — what
    // CONVERT records for parquet written without field ids): resolve
    // BY NAME — leaving the id metadata on would make Spark's reader
    // demand ids the converted files don't have
    val nameMapped = Option(meta.get("properties"))
      .exists(_.has("schema.name-mapping.default"))
    val s0 = icebergTypeToSpark(schemaNode).asInstanceOf[StructType]
    if (!nameMapped) s0
    else StructType(s0.fields.map(f => f.copy(metadata = Metadata.empty)))
  }

  /** One manifest-list row, reduced to what the entry decode needs —
    * the shippable unit of the executor-parallel planning path.
    * `specId` + `summaries` feed manifest-level pruning (spec field
    * 507) BEFORE the entry decode. */
  private[sources] final case class ManifestFrame(
      path: String, content: Int, seq: Long, firstRowId: Option[Long],
      specId: Int = 0, summaries: Option[Seq[FieldSummary]] = None)

  /** Decode ONE manifest's live entries. Pure per-manifest (row-id
    * inheritance resets at each manifest boundary — spec v3 §Row
    * Lineage), so calls are independent: the fan-out path runs this on
    * executors, the small-table path inline on the driver. Storage
    * access goes through TableIO() resolved AT CALL TIME, the same
    * contract the DV write path uses executor-side. */
  private[sources] def decodeManifest(base: String, fr: ManifestFrame)
  : (Seq[DataFileEntry], Seq[PositionDeleteFile], Seq[EqualityDeleteFile]) = {
    val files = mutable.ArrayBuffer.empty[DataFileEntry]
    val deletes = mutable.ArrayBuffer.empty[PositionDeleteFile]
    val eqDeletes = mutable.ArrayBuffer.empty[EqualityDeleteFile]
    var rowIdOffset = 0L
    readAvro(fr.path).foreach { e =>
      val status = e.get("status").toString.toInt
      if (status != 2) { // 0 existing, 1 added, 2 deleted
        val entrySeq = opt(e, "sequence_number")
          .map(_.toString.toLong).getOrElse(fr.seq)
        val entrySnapId = opt(e, "snapshot_id")
          .map(_.toString.toLong).getOrElse(-1L)
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val fileContent = opt(df, "content").map(_.toString.toInt).getOrElse(0)
        val fmt = df.get("file_format").toString
        // puffin is legal ONLY for v3 deletion-vector entries
        // (content=1 in a delete manifest with referenced_data_file)
        require(fmt.equalsIgnoreCase("PARQUET") ||
            (fmt.equalsIgnoreCase("PUFFIN") && fr.content == 1 &&
             fileContent == 1),
          s"unsupported Iceberg data file format $fmt")
        if (fr.content == 0) {
          require(fileContent == 0,
            "Iceberg delete file in a data manifest — unsupported (refusing)")
          // partition record: field names = partition names (identity);
          // values stringified for engine-neutral comparison
          val pv: Map[String, String] = opt(df, "partition").map {
            case r: GenericRecord =>
              import scala.jdk.CollectionConverters._
              r.getSchema.getFields.asScala.map(f =>
                f.name() -> Option(r.get(f.name())).map(_.toString).orNull).toMap
            case _ => Map.empty[String, String]
          }.getOrElse(Map.empty)
          val raw = df.get("file_path").toString
          // lower/upper bounds: avro map-as-array of (key int, value
          // bytes) records, keyed by field id — the inputs to
          // readRange's manifest-level data skipping
          def boundsOf(field: String): Map[Int, Array[Byte]] =
            opt(df, field).map {
              case l: java.util.Collection[_] =>
                import scala.jdk.CollectionConverters._
                l.asScala.collect { case r: GenericRecord =>
                  val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
                  val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr)
                  r.get("key").toString.toInt -> arr
                }.toMap
              case _ => Map.empty[Int, Array[Byte]]
            }.getOrElse(Map.empty)
          val recCount =
            opt(df, "record_count").map(_.toString.toLong).getOrElse(-1L)
          val explicitFri = opt(df, "first_row_id").map(_.toString.toLong)
          val fri = explicitFri.orElse(fr.firstRowId.map { base0 =>
            val v = base0 + rowIdOffset
            rowIdOffset += math.max(0L, recCount)
            v
          })
          files += DataFileEntry(resolvePath(base, raw), pv, raw, entrySeq,
            boundsOf("lower_bounds"), boundsOf("upper_bounds"),
            recCount,
            opt(df, "file_size_in_bytes")
              .map(_.toString.toLong).getOrElse(-1L),
            firstRowId = fri,
            addedSnapshotId = entrySnapId,
            sortOrderId = opt(df, "sort_order_id").map(_.toString.toInt))
        } else {
          // merge-on-read deletes: position (content=1) and equality
          // (content=2); anything else would resurrect rows if ignored
          require(fileContent == 1 || fileContent == 2,
            s"unsupported file content $fileContent in an Iceberg delete " +
            "manifest (refusing)")
          val f = resolvePath(base, df.get("file_path").toString)
          val recCount = opt(df, "record_count")
            .map(_.toString.toLong).getOrElse(-1L)
          if (fileContent == 1)
            deletes += PositionDeleteFile(f, entrySeq, io.length(f),
              recCount,
              referencedDataFile =
                opt(df, "referenced_data_file").map(_.toString),
              contentOffset =
                opt(df, "content_offset").map(_.toString.toLong),
              contentSize =
                opt(df, "content_size_in_bytes").map(_.toString.toLong))
          else {
            import scala.jdk.CollectionConverters._
            val ids = opt(df, "equality_ids").map {
              case l: java.util.List[_] =>
                l.asScala.map(_.toString.toInt).toSeq
              case other => throw new IllegalStateException(
                s"equality_ids of unexpected shape $other")
            }.getOrElse(Seq.empty)
            require(ids.nonEmpty,
              "equality delete file without equality_ids — cannot apply (refusing)")
            eqDeletes += EqualityDeleteFile(f, entrySeq, ids,
              io.length(f), recCount)
          }
        }
      }
    }
    (files.toSeq, deletes.toSeq, eqDeletes.toSeq)
  }

  /** Top-level field names in one parquet file's footer — ground truth
    * for the v3 default-fill presence check. Plain parquet-hadoop, no
    * SparkSession: runs on the driver (memoized small tables) or in
    * executor tasks (the footer fan-out). */
  private def parquetFooterFieldNames(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet
    finally rd.close()
  }

  /** Manifest count at or above which planning fans the per-manifest
    * avro decode over executors as a Spark job instead of a driver
    * loop. Below it the job-submission overhead exceeds the decode. */
  private[sources] def manifestFanoutThreshold(spark: SparkSession): Int =
    spark.conf.getOption("graft.iceberg.manifestFanout")
      .map(_.toInt).getOrElse(64)

  /** Every partition spec the metadata records, by spec id. */
  private def specsByIdOf(meta: JsonNode): Map[Int, Seq[SpecField]] =
    Option(meta.get("partition-specs")).map { specs =>
      (0 until specs.size()).map(specs.get).map { s =>
        val fs = s.get("fields")
        s.get("spec-id").asInt() ->
          (0 until fs.size()).map(fs.get).map(f => SpecField(
            f.get("name").asText(),
            Option(f.get("transform")).map(_.asText()).getOrElse("identity"),
            Option(f.get("source-id")).map(_.asInt()).getOrElse(-1),
            Option(f.get("field-id")).map(_.asInt()).getOrElse(-1))).toSeq
      }.toMap
    }.getOrElse(Map.empty)

  /** Current-schema field id → name. */
  private def schemaNamesByIdOf(meta: JsonNode): Map[Int, String] = {
    val ss = meta.get("schemas")
    if (ss == null) return Map.empty
    val wantSchema = meta.get("current-schema-id").asInt()
    (0 until ss.size()).map(ss.get)
      .find(_.get("schema-id").asInt() == wantSchema)
      .map { node =>
        val fs = node.get("fields")
        (0 until fs.size()).map(fs.get)
          .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
      }.getOrElse(Map.empty)
  }

  /** Can a manifest's field summaries admit the filters? `eq` maps
    * spec-field name → required stringified value (null = wants the
    * null partition); `range` maps spec-field name → [lo, hi]
    * stringified TRANSFORMED-domain bounds (either side open). The
    * summaries live in the transformed domain: identity/truncate keep
    * the source type, the bucket/time transforms are int surrogates.
    * Anything unresolvable keeps the manifest — pruning is a
    * performance decision, never a correctness one. */
  private def manifestAdmits(fields: Seq[SpecField],
                             sums: Seq[FieldSummary],
                             namesById: Map[Int, String],
                             schema: StructType,
                             eq: Map[String, String],
                             range: Map[String, (Option[String], Option[String])])
  : Boolean = {
    def typedOf(sf: SpecField): Option[DataType] = {
      def srcType: Option[DataType] = namesById.get(sf.sourceId)
        .flatMap(n => schema.fields.find(_.name == n)).map(_.dataType)
      sf.transform match {
        case "identity" => srcType
        case t if t.startsWith("bucket[") => Some(IntegerType)
        case "day" | "year" | "month" | "hour" => Some(IntegerType)
        case t if t.startsWith("truncate[") => srcType
        case _ => None // unknown transform → keep
      }
    }
    def keyOf(t: DataType, s: String): Option[Any] =
      try SingleValue.boundKey(t, parsePartitionValue(t, s))
      catch { case _: Exception => None }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => x.compare(y)
      case (x: Double, y: Double) => x.compare(y)
      case (x: String, y: String) => x.compare(y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y)
      case _ => 0
    }
    def fieldAt(c: String): Option[(SpecField, FieldSummary)] =
      fields.zipWithIndex.collectFirst {
        case (sf, i) if sf.name == c && i < sums.size => (sf, sums(i)) }
    val eqOk = eq.forall { case (c, v) =>
      fieldAt(c) match {
        case None => true // field not in this manifest's spec
        case Some((sf, s)) =>
          if (v == null) s.containsNull
          else typedOf(sf) match {
            case None => true
            case Some(t) => keyOf(t, v) match {
              case None => true
              case Some(k) =>
                s.lower.flatMap(SingleValue.decode(t, _))
                  .forall(lo => cmp(k, lo) >= 0) &&
                s.upper.flatMap(SingleValue.decode(t, _))
                  .forall(hi => cmp(k, hi) <= 0)
            }
          }
      }
    }
    eqOk && range.forall { case (c, (lo, hi)) =>
      fieldAt(c) match {
        case None => true
        case Some((sf, s)) => typedOf(sf) match {
          case None => true
          case Some(t) =>
            // overlap test: [filterLo, filterHi] ∩ [lower, upper] ≠ ∅;
            // a missing side of either interval is unbounded → keep
            val sumLo = s.lower.flatMap(SingleValue.decode(t, _))
            val sumHi = s.upper.flatMap(SingleValue.decode(t, _))
            val notBelow = (hi.flatMap(keyOf(t, _)), sumLo) match {
              case (Some(h), Some(l)) => cmp(h, l) >= 0
              case _ => true
            }
            val notAbove = (lo.flatMap(keyOf(t, _)), sumHi) match {
              case (Some(l), Some(u)) => cmp(l, u) <= 0
              case _ => true
            }
            notBelow && notAbove
        }
      }
    }
  }

  def snapshot(spark: SparkSession, base: String,
               snapshotId: Option[Long] = None,
               manifestPrune: Map[String, String] = Map.empty,
               manifestPruneRange: Map[String, (Option[String], Option[String])] =
                 Map.empty)
  : IcebergSnapshot = {
    val meta = readMeta(base)
    val fv = meta.get("format-version").asInt()
    require(fv == 1 || fv == 2 || fv == 3,
      s"unsupported Iceberg format-version $fv")
    val nameMapped = Option(meta.get("properties"))
      .exists(_.has("schema.name-mapping.default"))
    val schema = schemaFromMeta(meta, base)

    val snaps = Option(meta.get("snapshots")).getOrElse(
      throw new IllegalStateException(s"no snapshots in $base"))
    val wantId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snap = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == wantId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $wantId not found in $base"))

    // every partition spec the table has had (spec evolution keeps old
    // specs in metadata — their field names still key older files'
    // partition records); the DEFAULT spec drives new writes, identity
    // columns of it drive the legacy partitionFilters path, and
    // bucket/truncate/day prune through readEq's transform-aware
    // translation across ALL specs
    val defaultSpecId: Int =
      Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val specsById: Map[Int, Seq[SpecField]] = specsByIdOf(meta)
    val specFields: Seq[SpecField] = specsById.getOrElse(defaultSpecId, Seq.empty)
    val partCols: Seq[String] =
      specFields.filter(_.transform == "identity").map(_.name)
    // schema field id → name (the source-id resolution for transforms)
    val namesById: Map[Int, String] = schemaNamesByIdOf(meta)

    // snapshot id → field-id set of the schema it committed under
    // (spec: each snapshot records its schema-id; schemas keep history)
    val idsBySchema: Map[Int, Set[Int]] =
      Option(meta.get("schemas")).map { ss =>
        (0 until ss.size()).map(ss.get).map { node =>
          val fs = node.get("fields")
          node.get("schema-id").asInt() ->
            (0 until fs.size()).map(i => fs.get(i).get("id").asInt()).toSet
        }.toMap
      }.getOrElse(Map.empty)
    val fieldIdsAtSnapshot: Map[Long, Set[Int]] =
      (0 until snaps.size()).map(snaps.get).flatMap { s =>
        Option(s.get("schema-id")).flatMap(sid =>
          idsBySchema.get(sid.asInt()).map(ids =>
            s.get("snapshot-id").asLong() -> ids))
      }.toMap

    val manifestList = resolvePath(base,
      snap.get("manifest-list").asText())
    // manifest-list framing stays a driver read (ONE small avro); the
    // per-manifest entry decode is independent, so above the fan-out
    // threshold it runs as a Spark job — planning no longer serializes
    // on the driver when manifests number in the thousands. Results
    // come back in manifest-list order either way (the collect is the
    // same metadata-scale entry list the driver walk produced).
    val frames: Seq[ManifestFrame] = readAvro(manifestList).map { m =>
      // content 0 = data manifest, 1 = delete manifest (v2)
      val content = opt(m, "content").map(_.toString.toInt).getOrElse(0)
      require(content == 0 || content == 1,
        s"unknown Iceberg manifest content $content (refusing)")
      // the manifest's sequence number; entries without their own
      // sequence_number inherit it (spec §Sequence Number Inheritance);
      // first_row_id likewise seeds the per-manifest inheritance walk
      // (spec v3 §Row Lineage)
      ManifestFrame(resolvePath(base, m.get("manifest_path").toString),
        content,
        opt(m, "sequence_number").map(_.toString.toLong).getOrElse(0L),
        opt(m, "first_row_id").map(_.toString.toLong),
        opt(m, "partition_spec_id").map(_.toString.toInt).getOrElse(0),
        readFieldSummaries(m))
    }
    // Manifest-level pruning (spec field 507): a DATA manifest whose
    // field summaries exclude an equality or range filter never gets
    // its entries decoded — at thousands of manifests this is where
    // pruning must start, before any per-entry work. Conservative by
    // construction: no summaries / unresolvable field / undecodable
    // bound → keep. Delete manifests always pass (their scope may span
    // partitions; this engine's carry no summaries anyway).
    val prunedFrames: Seq[ManifestFrame] =
      if (manifestPrune.isEmpty && manifestPruneRange.isEmpty) frames
      else frames.filter { fr =>
        fr.content != 0 || fr.summaries.forall(sums =>
          manifestAdmits(specsById.getOrElse(fr.specId, Seq.empty), sums,
            namesById, schema, manifestPrune, manifestPruneRange))
      }
    val decoded: Seq[(Seq[DataFileEntry], Seq[PositionDeleteFile],
                      Seq[EqualityDeleteFile])] =
      if (prunedFrames.size < manifestFanoutThreshold(spark))
        prunedFrames.map(fr => decodeManifest(base, fr))
      else {
        val b = base
        val slices = math.max(1, math.min(prunedFrames.size,
          spark.sparkContext.defaultParallelism * 4))
        spark.sparkContext.parallelize(prunedFrames.zipWithIndex, slices)
          .map { case (fr, i) => (i, decodeManifest(b, fr)) }
          .collect().sortBy(_._1).map(_._2).toSeq
      }
    val files = decoded.flatMap(_._1)
    val deletes = decoded.flatMap(_._2)
    val eqDeletes = decoded.flatMap(_._3)
    val nameMappingNames: Map[Int, String] =
      Option(meta.get("properties"))
        .flatMap(p => Option(p.get("schema.name-mapping.default")))
        .map { nmStr =>
          val arr = mapper.readTree(nmStr.asText())
          (0 until arr.size()).map(arr.get).flatMap { e =>
            val names = e.get("names")
            if (names != null && names.size() > 0)
              Some(e.get("field-id").asInt() -> names.get(0).asText())
            else None
          }.toMap
        }.getOrElse(Map.empty)
    IcebergSnapshot(wantId, schema, partCols,
      files.distinctBy(_.path).toSeq,
      deletes.distinctBy(d => (d.path, d.contentOffset)).toSeq,
      eqDeletes.distinctBy(_.path).toSeq, specFields, namesById,
      specsById, defaultSpecId, nameMapped, fv, fieldIdsAtSnapshot,
      nameMappingNames)
  }

  /** All snapshot ids recorded in the current metadata, oldest first —
    * lets callers time-travel a cached table without re-running the
    * commits that built it. */
  def snapshotIds(base: String): Seq[Long] = {
    val meta = readMeta(base)
    val snaps = meta.get("snapshots")
    (0 until snaps.size()).map(i => snaps.get(i).get("snapshot-id").asLong())
  }

  /** (snapshot-id, timestamp-ms) per recorded snapshot, commit order —
    * what a caller picks an as-of instant from. */
  def snapshotTimestamps(base: String): Seq[(Long, Long)] = {
    val meta = readMeta(base)
    val snaps = meta.get("snapshots")
    (0 until snaps.size()).map(snaps.get).map(s =>
      (s.get("snapshot-id").asLong(),
        Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L)))
  }

  /** Timestamp-as-of travel: the snapshot id of the LATEST snapshot
    * committed at or before `tsMillis` (the same rule Delta's timestamp
    * travel uses — the state a reader at that instant would have seen).
    * Before the first snapshot's timestamp there is no state to read:
    * error, naming the earliest. Ties (several snapshots stamped the
    * same millisecond) resolve to the latest in commit order. */
  def snapshotIdAsOf(base: String, tsMillis: Long): Long = {
    val meta = readMeta(base)
    // the snapshot-log (spec §Table Metadata) is the CURRENT-at-time
    // record — authoritative when present: after a ROLLBACK the newest
    // snapshot entry is no longer what a reader at that time saw, and
    // only the log captures the re-pointing. Tables from writers that
    // keep no log fall back to commit-ordered snapshot timestamps.
    val lg = Option(meta.get("snapshot-log"))
      .map(a => (0 until a.size()).map(a.get)).getOrElse(Seq.empty)
    if (lg.nonEmpty) {
      val at = lg.filter(_.get("timestamp-ms").asLong() <= tsMillis)
      require(at.nonEmpty,
        s"no snapshot of $base current at or before $tsMillis ms " +
        s"(snapshot-log starts at ${lg.head.get("timestamp-ms").asLong()} ms)")
      return at.last.get("snapshot-id").asLong()
    }
    val snaps = meta.get("snapshots")
    val pairs = (0 until snaps.size()).map(snaps.get).map(s =>
      (s.get("snapshot-id").asLong(),
        Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L)))
    val at = pairs.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no snapshot of $base at or before timestamp $tsMillis ms " +
      s"(earliest commit: ${pairs.headOption.map(_._2).getOrElse(-1L)} ms)")
    at.last._1 // snapshots array is commit-ordered
  }

  /** `read` at the snapshot current as of `tsMillis`. */
  def readAsOfTimestamp(spark: SparkSession, base: String,
                        tsMillis: Long): DataFrame =
    read(spark, base, Some(snapshotIdAsOf(base, tsMillis)))

  /** Read an Iceberg table into a DataFrame (current snapshot, or
    * `snapshotId` time travel).
    *
    * `partitionFilters` (column → required stringified value) prune the
    * FILE LIST from the manifests before any scan is planned — Iceberg's
    * own metadata-pruning contract for identity partitions. Data files
    * carry identity-partition columns (unlike Delta), so no value
    * re-attachment happens: pruning only shrinks the scan. */
  /** Merge table properties (metadata-only commit). The write.metadata
    * retention knobs land here: `previous-versions-max` bounds the
    * metadata-log, `delete-after-commit.enabled` reclaims versions
    * that fell out of the window on every later commit. */
  def setTableProperties(base: String, props: Map[String, String]): Long = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val p = Option(meta.get("properties"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(meta.putObject("properties"))
    props.foreach { case (k, v) => p.put(k, v) }
    meta.put("last-updated-ms", clock())
    commitMetadataVersion(base, meta)
  }

  /** Set the table's WRITE SORT ORDER (spec §Sorting): records a new
    * entry in `sort-orders` (identity transform; asc = nulls-first,
    * desc = nulls-last — Iceberg's defaults) and points
    * `default-sort-order-id` at it. Later writes sort rows WITHIN each
    * task by this order (a local sort — pair with
    * `write.distribution-mode=range` for globally disjoint per-file
    * ranges) and stamp `sort_order_id` on their data-file entries.
    * `fields` empty resets to the unsorted order 0. Metadata-only
    * commit; existing files keep whatever order id they recorded. */
  def setSortOrder(base: String, fields: Seq[(String, Boolean)]): Long = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val orders = Option(meta.get("sort-orders"))
      .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode])
      .getOrElse {
        val a = meta.putArray("sort-orders")
        val o0 = a.addObject(); o0.put("order-id", 0); o0.putArray("fields")
        a
      }
    if (fields.isEmpty) meta.put("default-sort-order-id", 0)
    else {
      val idOf = schemaIdOf(currentSparkSchema(base))
      val nextId = (0 until orders.size())
        .map(orders.get(_).get("order-id").asInt()).max + 1
      val o = orders.addObject()
      o.put("order-id", nextId)
      val fs = o.putArray("fields")
      fields.foreach { case (c, asc) =>
        val f = fs.addObject()
        f.put("transform", "identity")
        f.put("source-id", idOf(c))
        f.put("direction", if (asc) "asc" else "desc")
        f.put("null-order", if (asc) "nulls-first" else "nulls-last")
      }
      meta.put("default-sort-order-id", nextId)
    }
    meta.put("last-updated-ms", clock())
    commitMetadataVersion(base, meta)
  }

  /** The table's default sort order as (order-id, (column, asc)
    * fields) — (0, empty) when unsorted or the table metadata predates
    * sort orders. An order this writer cannot honor IN FULL — a
    * non-identity transform in a foreign table's order, or a field
    * whose source column no longer resolves (an overwrite re-minted
    * the schema) — degrades to unsorted entirely: stamping an order id
    * on files sorted by only part of it would lie to readers. */
  private def defaultSortOrder(base: String): (Int, Seq[(String, Boolean)]) = {
    val meta = readMeta(base)
    val did = Option(meta.get("default-sort-order-id"))
      .map(_.asInt()).getOrElse(0)
    if (did == 0) return (0, Seq.empty)
    val nameOf: Long => Option[String] = {
      val schema = currentSparkSchema(base)
      val m = schema.fields.flatMap(f =>
        if (f.metadata.contains("parquet.field.id"))
          Some(f.metadata.getLong("parquet.field.id") -> f.name) else None
      ).toMap
      id => m.get(id)
    }
    val fields: Option[Seq[(String, Boolean)]] =
      Option(meta.get("sort-orders")).flatMap { so =>
        (0 until so.size()).map(so.get)
          .find(_.get("order-id").asInt() == did).flatMap { o =>
            val fs = o.get("fields")
            val resolved = (0 until fs.size()).map(fs.get).map { f =>
              if (f.get("transform").asText() != "identity") None
              else nameOf(f.get("source-id").asLong()).map(n =>
                n -> (f.get("direction").asText() == "asc"))
            }
            if (resolved.forall(_.isDefined)) Some(resolved.flatten.toSeq)
            else None
          }
      }
    fields.filter(_.nonEmpty).map(did -> _).getOrElse((0, Seq.empty))
  }

  /** The order id new data-file entries stamp: the table's default
    * sort order when one is set AND the frame being written carries
    * every order column (an overwrite with renamed columns degrades
    * to unsorted — same rule `distributeForWrite` applies, so the
    * sort and the stamp cannot diverge). */
  private def currentWriteOrderId(base: String,
                                  frameCols: Seq[String]): Option[Int] = {
    if (!io.exists(TableIO.join(metadataDir(base), "version-hint.text")))
      return None
    val (oid, fields) = defaultSortOrder(base)
    if (oid != 0 && fields.nonEmpty &&
        fields.forall(f => frameCols.contains(f._1))) Some(oid) else None
  }

  /** The pre-write shuffle + local sort of a staging, from the table's
    * `write.distribution-mode` property and default sort order. `gp`
    * holds the derived partition-tuple columns (empty when
    * unpartitioned):
    *  - `hash` (partitioned default): REBALANCE on the tuple — small
    *    tuples coalesce under AQE, a skewed tuple splits at the
    *    advisory size (a strict `repartition(tuple)` would pin a 1 TB
    *    partition to ONE serial task at cluster scale);
    *  - `range`: repartitionByRange on tuple ++ sort key — globally
    *    disjoint per-file value ranges, the layout `readRange` prunes
    *    best (works for unpartitioned tables too: ORDERED BY alone
    *    range-clusters the whole table);
    *  - `none` (unpartitioned default): no shuffle.
    * The sort order then applies WITHIN tasks — after a range
    * distribution that totals to a global sort. */
  private def distributeForWrite(df: DataFrame, base: String,
                                 gp: Seq[org.apache.spark.sql.Column])
  : DataFrame = {
    val exists =
      io.exists(TableIO.join(metadataDir(base), "version-hint.text"))
    val fields = (if (exists) defaultSortOrder(base)._2 else Seq.empty)
      .filter(_ => currentWriteOrderId(base, df.columns.toSeq).isDefined)
    import org.apache.spark.sql.functions.col
    val sortCols = fields.map { case (c, asc) =>
      if (asc) col(c).asc_nulls_first else col(c).desc_nulls_last }
    val defMode = if (gp.nonEmpty) "hash" else "none"
    val mode =
      if (exists)
        Option(readMeta(base).get("properties"))
          .flatMap(p => Option(p.get("write.distribution-mode")))
          .map(_.asText()).getOrElse(defMode)
      else defMode
    val distributed = mode match {
      case "hash"  => if (gp.nonEmpty) df.hint("rebalance", gp: _*) else df
      case "range" =>
        val keys = gp ++ sortCols
        if (keys.nonEmpty) df.repartitionByRange(keys: _*) else df
      case "none"  => df
      case other   => throw new IllegalArgumentException(
        s"write.distribution-mode '$other' (this writer speaks " +
        "none, hash, range)")
    }
    if (sortCols.nonEmpty) distributed.sortWithinPartitions(sortCols: _*)
    else distributed
  }

  /** TIMESTAMP AS OF — alias of [[snapshotIdAsOf]] (snapshot-log
    * preferred, snapshot timestamps as the foreign-table fallback). */
  def snapshotIdAtTimestamp(base: String, tsMillis: Long): Long =
    snapshotIdAsOf(base, tsMillis)

  def read(spark: SparkSession, base: String,
           snapshotId: Option[Long] = None,
           partitionFilters: Map[String, String] = Map.empty): DataFrame = {
    // Iceberg resolves columns by FIELD ID (the spec's contract — names
    // are mutable, ids are not); the snapshot schema carries the ids as
    // parquet.field.id metadata and this conf makes Spark's parquet
    // reader honor them. Session-scoped, but inert for any schema
    // without that metadata, so plain parquet reads are unaffected.
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // the filters prune at BOTH metadata levels: whole manifests via
    // the list's field summaries (inside snapshot), then files via
    // their partition records below
    val snap = snapshot(spark, base, snapshotId,
      manifestPrune = partitionFilters)
    partitionFilters.keys.foreach { k =>
      require(snap.partitionColumns.contains(k),
        s"'$k' is not an identity partition column of $base " +
        s"(have ${snap.partitionColumns})")
      // partitionFilters prune WITHOUT a row-level residual, so every
      // live file must actually record the field — after partition
      // evolution, files written under an older spec don't, and
      // pruning them away would silently drop their rows
      require(snap.files.forall(_.partitionValues.contains(k)),
        s"partition field '$k' is not recorded for every live data " +
        s"file of $base (the partition spec evolved) — use readEq, " +
        "which keeps pre-evolution files and filters rows")
    }
    val kept =
      if (partitionFilters.isEmpty) snap.files
      else snap.files.filter(f => partitionFilters.forall {
        case (k, v) => f.partitionValues.get(k).contains(v) })
    assembleRead(spark, snap, kept)
  }

  /** Read with a range predicate on `column`, pruning the file list by
    * the manifests' per-file lower/upper bounds BEFORE scan planning —
    * Iceberg's manifest-level data skipping, the metadata decision that
    * makes a narrow range query on a 100 TB table open a handful of
    * files. Files without bounds for the column are conservatively
    * kept, and the predicate is also applied to rows: pruning is a
    * performance decision, never a correctness one. Bounds are
    * inclusive; None = open end. */
  def readRange(spark: SparkSession, base: String, column: String,
                lo: Option[Any], hi: Option[Any],
                snapshotId: Option[Long] = None,
                partitionFilters: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // manifest-level range pruning: every spec field derived from the
    // range column through a MONOTONE transform (identity, truncate,
    // the time transforms — never bucket) maps [lo, hi] into the
    // transformed domain, and the manifest-list summaries skip whole
    // manifests whose partition range cannot intersect it. A
    // date-partitioned 100 TB table answers a week-range query without
    // decoding a year's manifests.
    val rangePrune: Map[String, (Option[String], Option[String])] = {
      val meta = readMeta(base)
      val names = schemaNamesByIdOf(meta)
      specsByIdOf(meta).values.flatten.toSeq
        .distinctBy(f => (f.name, f.transform, f.sourceId))
        .filter(f => names.get(f.sourceId).contains(column))
        .flatMap { f =>
          val t = try Some(IceTransform.parse(f.transform))
                  catch { case _: IllegalArgumentException => None }
          t.filter(!_.isInstanceOf[IceTransform.Bucket]).flatMap { tt =>
            try Some(f.name ->
              (lo.map(transformScalar(tt, _)), hi.map(transformScalar(tt, _))))
            catch { case _: Exception => None }
          }
        }.toMap
    }
    val snap = snapshot(spark, base, snapshotId,
      manifestPrune = partitionFilters, manifestPruneRange = rangePrune)
    partitionFilters.keys.foreach { k =>
      require(snap.partitionColumns.contains(k),
        s"'$k' is not an identity partition column of $base")
      require(snap.files.forall(_.partitionValues.contains(k)),
        s"partition field '$k' is not recorded for every live data " +
        s"file of $base (the partition spec evolved) — use readEq")
    }
    val f0 = snap.schema(column)
    // bounds keys are schema field ids — resolved from the field's
    // metadata, or (name-mapped converted tables, whose Spark schema
    // carries no id metadata) from the metadata JSON's id map
    val fid: Int =
      if (f0.metadata.contains("parquet.field.id"))
        f0.metadata.getLong("parquet.field.id").toInt
      else snap.fieldNamesById.collectFirst {
        case (id, n) if n == column => id
      }.getOrElse(throw new IllegalArgumentException(
        s"column '$column' carries no field id — cannot resolve bounds"))
    val dt = f0.dataType
    val loK = lo.flatMap(SingleValue.boundKey(dt, _))
    val hiK = hi.flatMap(SingleValue.boundKey(dt, _))
    val kept = snap.files.filter { f =>
      (partitionFilters.isEmpty || partitionFilters.forall {
        case (k, v) => f.partitionValues.get(k).contains(v) }) &&
      boundsAdmit(f, fid, dt, loK, hiK)
    }
    val c = org.apache.spark.sql.functions.col(column)
    import org.apache.spark.sql.functions.lit
    val pred = (lo.map(v => c >= lit(v)).toSeq ++ hi.map(v => c <= lit(v)))
      .reduceOption(_ && _).getOrElse(lit(true))
    assembleRead(spark, snap, kept).where(pred)
  }

  /** Read with equality predicates on SOURCE columns, pruned through the
    * partition spec's TRANSFORMS: for each filter column, every spec
    * field derived from it (identity, bucket[N], truncate[W], day) maps
    * the filter value through the same transform and keeps only files
    * whose manifest partition record matches — so `o_custkey = 42` on a
    * bucket[8](o_custkey) table opens one bucket's files. The predicate
    * is also applied to rows (a bucket holds many keys; pruning is a
    * performance decision, never a correctness one). */
  def readEq(spark: SparkSession, base: String, filters: Map[String, Any],
             snapshotId: Option[Long] = None): DataFrame = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // the TRANSFORMED expected values double as manifest-level pruning
    // keys (computed from metadata alone — no second planning pass): a
    // bucket-partitioned point lookup skips every manifest whose
    // bucket range excludes the key's bucket, before any entry decode
    val prune: Map[String, String] = {
      val meta = readMeta(base)
      val names = schemaNamesByIdOf(meta)
      val bySource0 = specsByIdOf(meta).values.flatten.toSeq
        .distinctBy(f => (f.name, f.transform, f.sourceId))
        .groupBy(f => names.getOrElse(f.sourceId, ""))
      filters.toSeq.flatMap { case (c, v) =>
        bySource0.getOrElse(c, Seq.empty).flatMap { f =>
          val t = try Some(IceTransform.parse(f.transform))
                  catch { case _: IllegalArgumentException => None }
          t.map(tt => f.name -> transformScalar(tt, v))
        }
      }.toMap
    }
    val snap = snapshot(spark, base, snapshotId, manifestPrune = prune)
    // fields of EVERY spec the table has had: after partition evolution
    // a live file prunes through whatever spec it was written under —
    // its partition record carries exactly that spec's field names, and
    // a field the record does not have says nothing about the file
    // (absent → keep). Pruning stays a performance decision; the row
    // predicate below is the correctness.
    val allSpecFields = snap.specsById.values.flatten.toSeq
      .distinctBy(f => (f.name, f.transform, f.sourceId))
    val bySource: Map[String, Seq[SpecField]] =
      allSpecFields.groupBy(f => snap.fieldNamesById.getOrElse(f.sourceId, ""))
    val expected: Seq[(String, String)] = filters.toSeq.flatMap { case (c, v) =>
      val fs = bySource.getOrElse(c, Seq.empty)
      require(fs.nonEmpty,
        s"'$c' feeds no partition-spec field of $base " +
        s"(specs: ${allSpecFields.map(f => s"${f.name}=${f.transform}").mkString(", ")})")
      fs.flatMap { f =>
        // forward compatibility: a FOREIGN spec field whose transform
        // this engine doesn't implement (a future or multi-arg
        // transform) must not kill the read — pruning via that field is
        // skipped and the row predicate below keeps the result exact.
        // Writes still refuse (appendSpec parses strictly: the engine
        // cannot PRODUCE partition values it doesn't understand).
        val t = try Some(IceTransform.parse(f.transform))
                catch { case _: IllegalArgumentException => None }
        t.map(tt => f.name -> transformScalar(tt, v))
      }
    }
    val kept = snap.files.filter(f => expected.forall {
      case (name, v) => f.partitionValues.get(name).forall(_ == v) })
    import org.apache.spark.sql.functions.{col, lit}
    val pred = filters.map { case (c, v) => col(c) === lit(v) }
      .reduceOption(_ && _).getOrElse(lit(true))
    assembleRead(spark, snap, kept).where(pred)
  }

  /** A filter value pushed through a partition transform, stringified
    * exactly as the manifest partition records are (avro toString). */
  private def transformScalar(t: IceTransform, v: Any): String = {
    import graft.functions.IcebergTransforms._
    def asLong(x: Any): Long = x match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"expected integral value, got ${other.getClass.getSimpleName}")
    }
    def micros(x: Any): Long = x match {
      case ts: java.sql.Timestamp =>
        ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000L + i.getNano / 1000
      // date-typed partition sources: midnight UTC of the civil date
      case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
      case d: java.time.LocalDate => d.toEpochDay * 86400000000L
      // NTZ (wall-clock) values: the civil datetime read as UTC, so
      // dayOfMicros lands on the civil date
      case ldt: java.time.LocalDateTime =>
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000
      case other => throw new IllegalArgumentException(
        s"expected timestamp value, got ${other.getClass.getSimpleName}")
    }
    t match {
      case IceTransform.Identity => v match {
        // date identity values live in partition records as epoch-day
        // ints (spec single-value form) — stringify the same way, or
        // every date filter would wrongly prune every file
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
        case d: java.time.LocalDate => d.toEpochDay.toString
        case other => other.toString
      }
      case IceTransform.Bucket(n) => (v match {
        case s: String => bucketString(s, n)
        case ts: java.sql.Timestamp => bucketLong(micros(ts), n)
        case i: java.time.Instant => bucketLong(micros(i), n)
        // Iceberg buckets dates by their epoch-DAY int, not micros
        case d: java.sql.Date => bucketLong(d.toLocalDate.toEpochDay, n)
        case d: java.time.LocalDate => bucketLong(d.toEpochDay, n)
        case x => bucketLong(asLong(x), n)
      }).toString
      case IceTransform.Truncate(w) => v match {
        case s: String => truncateString(s, w)
        case x => truncateLong(asLong(x), w).toString
      }
      case IceTransform.Day =>
        dayOfMicros(micros(v)).toString
      case IceTransform.Year =>
        yearOfMicros(micros(v)).toString
      case IceTransform.Month =>
        monthOfMicros(micros(v)).toString
      case IceTransform.Hour =>
        hourOfMicros(micros(v)).toString
    }
  }

  /** Keep iff the file's [lower, upper] for the field can not be proven
    * disjoint from [lo, hi] (either bound absent/incomparable → keep). */
  private[sources] def boundsAdmit(f: DataFileEntry, fid: Int, dt: DataType,
                          loK: Option[Any], hiK: Option[Any]): Boolean =
    (f.lowerBounds.get(fid).flatMap(SingleValue.decode(dt, _)),
     f.upperBounds.get(fid).flatMap(SingleValue.decode(dt, _))) match {
      case (Some(mn), Some(mx)) =>
        // keep iff upper >= lo AND lower <= hi
        loK.flatMap(SingleValue.compare(mx, _)).forall(_ >= 0) &&
          hiK.flatMap(SingleValue.compare(mn, _)).forall(_ <= 0)
      case _ => true
    }

  /** Delete files up to this many on-disk bytes broadcast as the
    * join side that applies them; past that, the join shuffles — the
    * same decision shape as the Delta DV path. */
  private val DeleteBroadcastMaxBytes = 64L << 20

  /** Plan the scan for a (possibly pruned) file set and subtract v2
    * merge-on-read deletes. */
  private def assembleRead(spark: SparkSession, snap: IcebergSnapshot,
                           kept: Seq[DataFileEntry],
                           keepCoords: Boolean = false,
                           // physical columns OUTSIDE the table schema
                           // to read as-is (null for files lacking
                           // them) — the materialized row-lineage
                           // columns of rewritten v3 files
                           extraCols: Seq[StructField] = Seq.empty): DataFrame = {
    // Iceberg resolution is BY FIELD ID: the snapshot schema carries
    // parquet.field.id metadata and this conf makes Spark's reader
    // honor it. Every public read path sets it — but so must THIS
    // shared internal scan, or the first operation of a fresh session
    // that goes through DML/maintenance (update, merge, compaction)
    // on a renamed/evolved table resolves BY NAME, reads NULL for any
    // column whose file-side name predates the rename, and REWRITES
    // that NULL into the table (the DdlFuzzSpec catch).
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // with keepCoords the caller gets `__ice_file` (normalized on-disk
    // path) and `__ice_pos` (raw parquet row_index — the position-delete
    // coordinate system) for row-level DML
    val outSchema = StructType(
      (if (!keepCoords) snap.schema.fields
       else snap.schema.fields ++ Seq(
         StructField("__ice_file", StringType),
         StructField("__ice_pos", LongType))) ++
      extraCols.map(_.copy(nullable = true)))
    if (kept.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // Column projection (spec §Column Projection): a converted table's
    // data files carry neither field ids nor (partitioned Delta) their
    // identity-partition columns — those resolve per file from the
    // manifests' partition tuples. The identity invariant makes the
    // fill exact even for files that DO store the column (every row's
    // value equals the tuple's), so coalesce is value-preserving on
    // mixed tables (converted files + post-convert appends).
    val projectCols: Seq[(SpecField, StructField)] =
      if (!snap.nameMapped) Seq.empty
      else snap.specFields.filter(_.transform == "identity").flatMap(sf =>
        snap.fieldNamesById.get(sf.sourceId)
          .flatMap(n => snap.schema.fields.find(_.name == n)).map(sf -> _))
    // spec v3 §Default values: fields carrying an initial-default fill
    // rows of files written under a schema that PREDATES the column
    val defaulted: Seq[(StructField, Any)] =
      snap.schema.fields.toSeq.flatMap(f => initialDefaultOf(f).map(f -> _))
    val needFileCol = keepCoords || projectCols.nonEmpty ||
      snap.deletes.nonEmpty || snap.eqDeletes.nonEmpty || defaulted.nonEmpty
    // spec §Name Mapping: files resolve under the MAPPED column name —
    // identical to the schema name for plain converts, the SOURCE's
    // physical name when the mirrored table renamed a mapped column.
    // The scan reads the mapped names and projects back right after
    // the _metadata attach.
    val fileNameOf: Map[String, String] =
      if (!snap.nameMapped) Map.empty
      else snap.fieldNamesById.flatMap { case (id, n) =>
        snap.nameMappingNames.get(id).filter(_ != n).map(n -> _) }
    val readFields = snap.schema.fields.map(f =>
      fileNameOf.get(f.name).map(m => f.copy(name = m)).getOrElse(f))
    require(readFields.map(_.name).distinct.length == readFields.length,
      s"name mapping maps two fields onto one file column " +
      s"(${readFields.map(_.name).mkString(",")}) — refusing")
    val scanRaw = spark.read.schema(StructType(readFields ++
      extraCols.map(_.copy(nullable = true)))).parquet(kept.map(_.path): _*)
    val scan1 =
      if (!needFileCol) scanRaw
      else {
        // attach provenance BEFORE any join: _metadata only resolves on
        // the file-scan relation itself
        val withFile = scanRaw.withColumn("__ice_file", PathCodec.metadataFileKey)
        if (keepCoords || snap.deletes.nonEmpty)
          withFile.withColumn("__ice_pos",
            org.apache.spark.sql.functions.col("_metadata.row_index"))
        else withFile
      }
    // project mapped file columns back to their schema names — the
    // rest of the assembly (and every caller) speaks schema names
    val scan1n =
      if (fileNameOf.isEmpty) scan1
      else {
        val inv = fileNameOf.map(_.swap)
        scan1.select(scan1.columns.toSeq.map { c =>
          inv.get(c) match {
            case Some(logical) =>
              org.apache.spark.sql.functions.col(c).as(logical)
            case None => org.apache.spark.sql.functions.col(c)
          }
        }: _*)
      }
    val scan0 =
      if (projectCols.isEmpty) scan1n
      else projectIdentityPartitions(spark, snap, kept, scan1n, projectCols)
    // per-file default fill. The reference readers key on field-id
    // ABSENCE IN THE FILE (spec v3 §Default values), so the footer is
    // ground truth. The adding snapshot's schema is used only as a
    // NEGATIVE proof — a file written under a schema without the field
    // cannot carry it — which skips the footer for every pre-add file;
    // post-add files get one footer read each (an external writer may
    // have physically omitted an optional defaulted column even though
    // the schema had it). Cost is bounded by post-add file count, only
    // on tables that HAVE defaulted columns.
    // `when(hasField, stored).otherwise(default)` keeps REAL NULLs
    // written after the add — only physically-absent columns fill.
    val scan = if (defaulted.isEmpty) scan0 else {
      import spark.implicits._
      val fids: Seq[Int] = defaulted.map { case (fd, _) =>
        if (fd.metadata.contains("parquet.field.id"))
          fd.metadata.getLong("parquet.field.id").toInt
        else -1
      }
      // files the schema proof does NOT fully decide need one footer
      // read each; above the planning fan-out threshold those reads
      // run as a Spark job (a foreign 10⁶-file defaulted table must
      // not serialize footer I/O on the driver)
      def decidedBySchema(f: DataFileEntry, i: Int): Option[Boolean] =
        snap.fieldIdsAtSnapshot.get(f.addedSnapshotId) match {
          case Some(ids) if fids(i) >= 0 && !ids.contains(fids(i)) =>
            Some(false)
          case _ => None
        }
      val footerFiles: Seq[String] = kept.filter(f =>
        defaulted.indices.exists(i => decidedBySchema(f, i).isEmpty))
        .map(_.path).distinct
      val footerNames: Map[String, Set[String]] =
        if (footerFiles.size < manifestFanoutThreshold(spark))
          footerFiles.map(p => p -> parquetFooterFieldNames(p)).toMap
        else {
          val slices = math.max(1, math.min(footerFiles.size,
            spark.sparkContext.defaultParallelism * 4))
          spark.sparkContext.parallelize(footerFiles, slices)
            .map(p => p -> parquetFooterFieldNames(p))
            .collect().toMap
        }
      val presence: Seq[(String, Seq[Boolean])] = kept.map { f =>
        val flags = defaulted.zipWithIndex.map { case ((fd, _), i) =>
          decidedBySchema(f, i).getOrElse(
            footerNames(f.path).contains(fd.name))
        }
        PathCodec.metadataPathKey(f.path) -> flags
      }
      val presDf = presence.map { case (k, fl) => (k, fl) }
        .toDF("__ice_file", "__has")
      val joined = scan0.join(
        org.apache.spark.sql.functions.broadcast(presDf), Seq("__ice_file"))
      defaulted.zipWithIndex.foldLeft(joined) {
        case (d, ((fd, dv), i)) =>
          d.withColumn(fd.name, org.apache.spark.sql.functions.when(
              org.apache.spark.sql.functions.element_at(
                org.apache.spark.sql.functions.col("__has"), i + 1),
              org.apache.spark.sql.functions.col(fd.name))
            .otherwise(org.apache.spark.sql.functions.lit(dv)
              .cast(fd.dataType)))
      }.drop("__has")
    }
    if (snap.deletes.isEmpty && snap.eqDeletes.isEmpty) {
      val cols = snap.schema.fieldNames.toSeq ++
        (if (keepCoords) Seq("__ice_file", "__ice_pos") else Seq.empty) ++
        extraCols.map(_.name)
      return scan.select(cols.map(org.apache.spark.sql.functions.col): _*)
    }

    // v2 merge-on-read. Both delete kinds need the row's provenance:
    // the data file identity (for position deletes) and its data
    // sequence number (to gate which deletes apply — spec §Scan
    // Planning). Delete files are read as normal distributed scans;
    // nothing here collects delete rows to the driver.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fileMap = kept.map(f =>
      (f.rawPath, PathCodec.metadataPathKey(f.path), f.seq))
      .toDF("__raw", "__ice_file", "__data_seq")
    var out = scan // __ice_file (and __ice_pos when needed) attached above

    if (snap.deletes.nonEmpty) {
      // Delete rows reference data files by the manifest's EXACT
      // file_path string, so they resolve through a broadcast
      // (raw path → identity, seq) map — which also drops deletes
      // aimed at pruned or dead files — then subtract by ONE anti
      // join on (file, row_index); position deletes and DVs apply to
      // data files with seq ≤ the delete's.
      val resolved = deleteCoordsDf(spark, snap.deletes)
        .join(broadcast(fileMap), col("file_path") === col("__raw"))
        .where(col("__data_seq") <= col("__del_seq"))
        .select(col("__ice_file"), col("pos").as("__ice_pos"))
      val delSide =
        if (snap.deletes.map(_.sizeBytes).sum <= DeleteBroadcastMaxBytes)
          broadcast(resolved)
        else resolved
      out = out.join(delSide, Seq("__ice_file", "__ice_pos"), "left_anti")
      if (!keepCoords) out = out.drop("__ice_pos")
    }

    if (snap.eqDeletes.nonEmpty) {
      out = out.join(broadcast(fileMap.select("__ice_file", "__data_seq")),
        Seq("__ice_file"))
      equalityDeleteSides(spark, snap, snap.eqDeletes).foreach {
        case (seq, side, matches) =>
          out = out.join(side, matches && col("__data_seq") < lit(seq),
            "left_anti")
      }
    }
    val coordCols =
      if (keepCoords) Seq(col("__ice_file"), col("__ice_pos")) else Seq.empty
    out.select(snap.schema.fieldNames.map(col) ++ coordCols ++
      extraCols.map(f => col(f.name)): _*)
  }

  /** The equality-delete sides of `eqs`, oldest first — one per
    * distinct (sequence, equality ids), so bounded by delete commits:
    * the delete files' distinct values as `__eq_<column>` columns
    * (broadcast while small) and the condition matching them against a
    * data row NULL-SAFELY (IS NOT DISTINCT FROM, per spec). A data row
    * dies only where it matches AND its file's data sequence is
    * STRICTLY below the side's — that gate is the caller's. Field ids
    * resolve to `snap`'s column names through the schema's
    * parquet.field.id metadata (delete files read by id too, so renamed
    * columns stay correct); name-mapped (converted) tables strip that
    * metadata and resolve through the metadata JSON's own id map (the
    * delete FILES still read by name — their columns carry the logical
    * names). */
  private def equalityDeleteSides(spark: SparkSession, snap: IcebergSnapshot,
                                  eqs: Seq[EqualityDeleteFile])
      : Seq[(Long, DataFrame, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions._
    val idToName: Map[Int, String] = {
      val fromMeta = snap.schema.fields.flatMap(f =>
        if (f.metadata.contains("parquet.field.id"))
          Some(f.metadata.getLong("parquet.field.id").toInt -> f.name)
        else None).toMap
      if (fromMeta.nonEmpty) fromMeta else snap.fieldNamesById
    }
    eqs.groupBy(d => (d.seq, d.equalityFieldIds)).toSeq.sortBy(_._1._1).map {
      case ((seq, ids), fs) =>
        val names = ids.map(id => idToName.getOrElse(id,
          throw new IllegalStateException(
            s"equality_ids references field id $id not present in the " +
            "current schema (refusing)")))
        val del = spark.read.schema(StructType(names.map(n => snap.schema(n))))
          .parquet(fs.map(_.path): _*)
          .dropDuplicates(names)
          .select(names.map(n => col(n).as(s"__eq_$n")): _*)
        val side =
          if (fs.map(_.sizeBytes).sum <= DeleteBroadcastMaxBytes) broadcast(del)
          else del
        (seq, side, names.map(n => col(n) <=> col(s"__eq_$n")).reduce(_ && _))
    }
  }

  /** Fill identity-partition columns from the manifests' per-file
    * partition tuples (spec §Column Projection — how a zero-copy
    * convert of a partitioned Delta table reads back whole): ONE
    * broadcast of (file → tuple values) — metadata scale, the file
    * list is already on the driver — joined on the scan's provenance
    * column; the scan itself stays fully distributed. `coalesce` keeps
    * stored values where a file carries the column (identity makes
    * them equal by invariant), fills where it doesn't. */
  private def projectIdentityPartitions(
      spark: SparkSession, snap: IcebergSnapshot, kept: Seq[DataFileEntry],
      scan: DataFrame,
      projectCols: Seq[(SpecField, StructField)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val names = projectCols.map(_._2.name)
    val tupleSchema = StructType(
      StructField("__ice_file", StringType) +:
        projectCols.map { case (_, f) =>
          StructField(s"__ice_part_${f.name}", StringType) })
    val rows = kept.map { f =>
      org.apache.spark.sql.Row.fromSeq(
        PathCodec.metadataPathKey(f.path) +:
          projectCols.map { case (sf, _) =>
            f.partitionValues.getOrElse(sf.name, null) })
    }
    val tuples = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), tupleSchema)
    // typed fill value: partition records stringify dates as epoch days
    def typedFill(f: StructField): org.apache.spark.sql.Column =
      f.dataType match {
      case DateType =>
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          col(s"__ice_part_${f.name}").cast(IntegerType))
      case dt => col(s"__ice_part_${f.name}").cast(dt)
    }
    val joined = scan.join(broadcast(tuples), Seq("__ice_file"), "left")
    val filled = projectCols.foldLeft(joined) { case (df, (_, f)) =>
      df.withColumn(f.name, coalesce(col(f.name), typedFill(f)))
    }
    filled.drop(names.map(n => s"__ice_part_$n"): _*)
  }

  // ------------------------------------------------------------- writer

  /** Spark type → Iceberg primitive type name (writer side; ids
    * assigned sequentially, as the spec requires distinct field ids). */
  private def sparkTypeToIceberg(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case VariantType => "variant" // v3-only; the write paths gate it
    case other => throw new IllegalArgumentException(
      s"writer does not map Spark type $other to Iceberg")
  }

  /** Iceberg schema document for a Spark schema — built with the
    * Jackson node API so field names (quotes, backslashes, anything)
    * are JSON-escaped correctly rather than interpolated raw. */
  private def schemaNode(schema: StructType): com.fasterxml.jackson.databind.node.ObjectNode =
    schemaNodeWith(schema, positionalIdOf(schema), 0)

  /** Schema node with CALLER-SUPPLIED field ids — converts from
    * column-mapped Delta sources bind Iceberg field ids to the
    * source's mapping ids (stable across renames), not positions. */
  private def schemaNodeWith(schema: StructType, idOf: String => Long,
                             schemaId: Int)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("type", "struct"); node.put("schema-id", schemaId)
    val fields = node.putArray("fields")
    schema.fields.foreach { f =>
      val fn = fields.addObject()
      fn.put("id", idOf(f.name)); fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.put("type", sparkTypeToIceberg(f.dataType))
    }
    node
  }

  // avro schemas with the spec's field ids (manifest_entry ids 0-2,
  // data_file ids 100-104+134, partition record 102 with field ids
  // 1000+). The entry schema is built per table because the partition
  // record's fields mirror the partition spec.
  private def avroPrimitive(dt: DataType): String = dt match {
    case IntegerType => "\"int\""
    case LongType => "\"long\""
    case StringType => "\"string\""
    case DoubleType => "\"double\""
    // spec: date = days from 1970-01-01, stored as avro int
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(
      s"unsupported identity-partition type $other")
  }

  /** JVM value → avro partition-record value: dates ride as epoch-day
    * ints (the spec's single-value form for `date`); everything else is
    * already the avro-native box. */
  private def avroPartitionValue(v: Any): Any = v match {
    case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
    case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
    case other => other
  }

  /** Stringified partition value → typed avro value for a partition
    * record. Dates accept BOTH the manifest form (epoch days, what our
    * own snapshots stringify back) and the Hive/Delta civil form
    * ("2023-01-05", what CONVERT reads from Delta add actions). */
  private def parsePartitionValue(dt: DataType, s: String): Any =
    if (s == null) null else dt match {
      case IntegerType => Int.box(s.toInt)
      case LongType => Long.box(s.toLong)
      case DoubleType => Double.box(s.toDouble)
      case StringType => s
      case DateType =>
        if (s.matches("-?\\d+")) Int.box(s.toInt)
        else Int.box(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case other => throw new IllegalArgumentException(
        s"unsupported identity-partition type $other in manifest write")
    }

  /** Manifest-entry avro schema for a partition layout. `fieldIds`
    * (when non-empty) are the spec's REAL field ids — appends into an
    * evolved table must stamp the table's ids, not a positional re-mint
    * (same invariant as schema field ids); creates default to 1000+i. */
  private def entrySchemaFor(partCols: Seq[(String, DataType)],
                             fieldIds: Seq[Int] = Seq.empty): AvroSchema = {
    val partitionField =
      if (partCols.isEmpty) ""
      else {
        val ids =
          if (fieldIds.nonEmpty) fieldIds else partCols.indices.map(1000 + _)
        require(ids.size == partCols.size,
          s"spec field id count ${ids.size} != field count ${partCols.size}")
        val fs = partCols.zip(ids).map { case ((c, dt), fid) =>
          s"""{"name":"$c","type":[${avroPrimitive(dt)},"null"],"field-id":$fid}"""
        }.mkString(",")
        s""",{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$fs]}}"""
      }
    new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":"long","field-id":1},
         |{"name":"sequence_number","type":["null","long"],"field-id":3,"default":null},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int","field-id":134},
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"field-id":135,"default":null},
         |  {"name":"lower_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}],"field-id":125,"default":null},
         |  {"name":"upper_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}],"field-id":128,"default":null},
         |  {"name":"sort_order_id","type":["null","int"],"field-id":140,"default":null},
         |  {"name":"first_row_id","type":["null","long"],"field-id":142,"default":null},
         |  {"name":"referenced_data_file","type":["null","string"],"field-id":143,"default":null},
         |  {"name":"content_offset","type":["null","long"],"field-id":144,"default":null},
         |  {"name":"content_size_in_bytes","type":["null","long"],"field-id":145,"default":null}
         |  $partitionField
         |]}}]}""".stripMargin.replaceAll("\n", ""))
  }

  private val manifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[
      |{"name":"contains_null","type":"boolean","field-id":509},
      |{"name":"contains_nan","type":["null","boolean"],"field-id":518,"default":null},
      |{"name":"lower_bound","type":["null","bytes"],"field-id":510,"default":null},
      |{"name":"upper_bound","type":["null","bytes"],"field-id":511,"default":null}
      |]}}],"field-id":507,"default":null},
      |{"name":"first_row_id","type":["null","long"],"field-id":520,"default":null}
      |]}""".stripMargin.replaceAll("\n", ""))

  /** One manifest-list row worth of state the writer must preserve when
    * carrying a manifest into the next snapshot: path, content kind,
    * sequence number, adding snapshot, and the partition spec the
    * manifest's entries were stamped under (spec evolution makes this
    * vary across live manifests). */
  /** One `field_summary` of a manifest-list row (spec field 507/508):
    * per-partition-field null presence + [lower, upper] value bounds in
    * the single-value binary serialization. The summaries let a reader
    * skip a WHOLE manifest whose partition range excludes its filter —
    * at 100 TB (thousands of manifests) that is the metadata level
    * pruning has to start at, before any entry is decoded. */
  private[sources] final case class FieldSummary(
      containsNull: Boolean,
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  private final case class ManifestRef(file: String, content: Int,
                                       seq: Long, addedSnapshotId: Long,
                                       specId: Int = 0,
                                       firstRowId: Option[Long] = None,
                                       partitions: Option[Seq[FieldSummary]] = None)

  /** The current snapshot's manifests with their recorded content and
    * sequence numbers (defaults for v1 lists without those columns). */
  private def currentManifests(base: String, prev: JsonNode): Seq[ManifestRef] =
    manifestsOfSnapshot(base, prev, prev.get("current-snapshot-id").asLong())

  private def manifestsOfSnapshot(base: String, prev: JsonNode,
                                  snapId: Long): Seq[ManifestRef] = {
    val snaps = prev.get("snapshots")
    val cur = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not in $base"))
    readAvro(resolvePath(base, cur.get("manifest-list").asText()))
      .map { r =>
        ManifestRef(resolvePath(base, r.get("manifest_path").toString),
          opt(r, "content").map(_.toString.toInt).getOrElse(0),
          opt(r, "sequence_number").map(_.toString.toLong).getOrElse(0L),
          r.get("added_snapshot_id").toString.toLong,
          opt(r, "partition_spec_id").map(_.toString.toInt).getOrElse(0),
          opt(r, "first_row_id").map(_.toString.toLong),
          readFieldSummaries(r))
      }
  }

  /** Decode a manifest-list row's `partitions` field-summary array
    * (absent in v1 lists and lists this writer produced before the
    * field landed — None carries through and the next list write
    * backfills it). */
  private def readFieldSummaries(r: GenericRecord)
  : Option[Seq[FieldSummary]] =
    opt(r, "partitions").map {
      case l: java.util.Collection[_] =>
        import scala.jdk.CollectionConverters._
        l.asScala.collect { case s: GenericRecord =>
          def bytesOf(f: String): Option[Array[Byte]] =
            opt(s, f).map { case bb: java.nio.ByteBuffer =>
              val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
            }
          FieldSummary(s.get("contains_null").toString.toBoolean,
            bytesOf("lower_bound"), bytesOf("upper_bound"))
        }.toSeq
      case _ => Seq.empty
    }.filter(_.nonEmpty)

  /** Rows a data manifest still needs lineage ids for: the record
    * counts of its live data entries WITHOUT an explicit first_row_id
    * (spec v3 §Row Lineage — explicit entries were assigned at an
    * earlier commit and do not consume new ids). */
  private def unassignedRowsOf(mFile: String): Long =
    readAvro(mFile).filter(_.get("status").toString.toInt != 2)
      .map(_.get("data_file").asInstanceOf[GenericRecord])
      .filter(df => opt(df, "content").map(_.toString.toInt).getOrElse(0) == 0
        && opt(df, "first_row_id").isEmpty)
      .map(df => math.max(0L,
        opt(df, "record_count").map(_.toString.toLong).getOrElse(0L))).sum

  /** DV blob coordinates from a manifest entry — both fields are
    * spec-REQUIRED for deletion vectors; a tolerant fallback (e.g. the
    * whole file length) would slice footer bytes into the blob and
    * surface as a checksum failure conversions later. Refuse at the
    * source instead. */
  private def dvOffsetOf(d: PositionDeleteFile): Long =
    d.contentOffset.getOrElse(throw new IllegalStateException(
      s"DV entry ${d.path} lacks content_offset (refusing)"))
  private def dvSizeOf(d: PositionDeleteFile): Long =
    d.contentSize.getOrElse(throw new IllegalStateException(
      s"DV entry ${d.path} lacks content_size_in_bytes (refusing)"))

  /** Per-field partition summaries of ONE manifest, computed from its
    * entries' partition records (status!=2 — what any reader can see).
    * The bound encoding is the same single-value serialization the
    * record values came from (avro int/long/float/double are the spec's
    * LE widths; date/timestamp partition values are already stored as
    * their int/long surrogates). Strings over 64 chars drop the bound
    * side (a truncated bound is not a bound). None = the manifest has
    * no partition record (unpartitioned spec / delete manifests here). */
  private def summarizeManifest(file: String): Option[Seq[FieldSummary]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def enc(v: Any): Option[Array[Byte]] = v match {
      case i: java.lang.Integer => Some(ByteBuffer.allocate(4)
        .order(ByteOrder.LITTLE_ENDIAN).putInt(i).array())
      case l: java.lang.Long => Some(ByteBuffer.allocate(8)
        .order(ByteOrder.LITTLE_ENDIAN).putLong(l).array())
      case fl: java.lang.Float => Some(ByteBuffer.allocate(4)
        .order(ByteOrder.LITTLE_ENDIAN).putFloat(fl).array())
      case d: java.lang.Double => Some(ByteBuffer.allocate(8)
        .order(ByteOrder.LITTLE_ENDIAN).putDouble(d).array())
      case b: java.lang.Boolean =>
        Some(Array[Byte](if (b) 1 else 0))
      case s: CharSequence =>
        val str = s.toString
        if (str.length <= 64) Some(str.getBytes("UTF-8")) else None
      case _ => None
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Number, y: Number)
          if x.isInstanceOf[java.lang.Float] || x.isInstanceOf[java.lang.Double] ||
             y.isInstanceOf[java.lang.Float] || y.isInstanceOf[java.lang.Double] =>
        x.doubleValue() < y.doubleValue()
      case (x: Number, y: Number) => x.longValue() < y.longValue()
      case (x: CharSequence, y: CharSequence) => x.toString < y.toString
      case (x: java.lang.Boolean, y: java.lang.Boolean) => !x && y
      case _ => false
    }
    val records = readAvro(file)
      .filter(_.get("status").toString.toInt != 2)
      .map(_.get("data_file").asInstanceOf[GenericRecord])
      .flatMap(df => Option(df.getSchema.getField("partition"))
        .flatMap(_ => Option(df.get("partition"))
          .collect { case p: GenericRecord => p }))
    if (records.isEmpty) return None
    import scala.jdk.CollectionConverters._
    val fieldNames = records.head.getSchema.getFields.asScala.map(_.name())
    Some(fieldNames.map { fn =>
      val vs = records.map(_.get(fn))
      val nonNull = vs.filter(_ != null)
      val lo = nonNull.reduceOption((a, b) => if (lt(a, b)) a else b)
      val hi = nonNull.reduceOption((a, b) => if (lt(a, b)) b else a)
      FieldSummary(vs.exists(_ == null),
        lo.flatMap(enc), hi.flatMap(enc))
    }.toSeq)
  }

  private def writeManifestList(f: String, rows: Seq[ManifestRef]): Unit =
    writeAvro(f, manifestFileSchema, rows.map { m =>
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", PathCodec.absNorm(m.file))
      r.put("manifest_length", io.length(m.file))
      r.put("partition_spec_id", m.specId)
      r.put("content", m.content)
      r.put("sequence_number", m.seq)
      r.put("added_snapshot_id", m.addedSnapshotId)
      m.firstRowId.foreach(v =>
        r.put("first_row_id", java.lang.Long.valueOf(v)))
      // stored summaries carry verbatim; a row without them (a
      // just-written manifest, or a carried row from a list predating
      // the field) computes them from the manifest now — O(new
      // manifests) per commit, a one-time backfill for old tables
      m.partitions.orElse(summarizeManifest(m.file)).foreach { sums =>
        val arrSchema = manifestFileSchema.getField("partitions").schema()
          .getTypes.get(1)
        val arr = new GenericData.Array[GenericRecord](sums.size, arrSchema)
        sums.foreach { s =>
          val sr = new GenericData.Record(arrSchema.getElementType)
          sr.put("contains_null", s.containsNull)
          s.lower.foreach(b =>
            sr.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
          s.upper.foreach(b =>
            sr.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
          arr.add(sr)
        }
        r.put("partitions", arr)
      }
      r
    })

  /** The spec's single-value BINARY serialization (Appendix D) used by
    * manifest `lower_bounds` / `upper_bounds`: little-endian fixed-width
    * numerics, UTF-8 strings, days/micros for date/timestamp, and
    * big-endian two's-complement unscaled decimals. Values move through
    * a unified comparable space per type family (Long / Double / String
    * / BigDecimal) so bound checks are one compare, and anything not
    * representable returns None — the caller must then keep the file. */
  private[sources] object SingleValue {
    import java.nio.{ByteBuffer, ByteOrder}
    private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

    private def tsMicros(t: java.sql.Timestamp): Long =
      // floorDiv, not truncation: for pre-1970 instants getTime/1000
      // rounds toward zero, producing NON-monotonic micros (an instant
      // before the epoch would encode after later ones) — wrong manifest
      // bounds would then prune files that hold matching rows
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    private def ntzMicros(ldt: java.time.LocalDateTime): Long = {
      val i = ldt.toInstant(java.time.ZoneOffset.UTC)
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    }

    /** Spark-collected value → spec binary (None = not representable). */
    def encode(dt: DataType, v: Any): Option[Array[Byte]] = (dt, v) match {
      case (_, null) => None
      case (IntegerType, i: java.lang.Integer) => Some(le(4).putInt(i).array())
      case (LongType, l: java.lang.Long) => Some(le(8).putLong(l).array())
      case (FloatType, f: java.lang.Float) =>
        if (f.isNaN) None else Some(le(4).putFloat(f).array())
      case (DoubleType, d: java.lang.Double) =>
        if (d.isNaN) None else Some(le(8).putDouble(d).array())
      case (StringType, s: String) =>
        // cap mirrors Delta's: a truncated upper bound is NOT a bound
        if (s.length <= 64) Some(s.getBytes("UTF-8")) else None
      case (DateType, d: java.sql.Date) =>
        Some(le(4).putInt(d.toLocalDate.toEpochDay.toInt).array())
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(le(8).putLong(tsMicros(t)).array())
      case (TimestampNTZType, l: java.time.LocalDateTime) =>
        Some(le(8).putLong(ntzMicros(l)).array())
      case (_: DecimalType, d: java.math.BigDecimal) =>
        Some(d.unscaledValue().toByteArray)
      case _ => None
    }

    /** Spec binary → the type family's comparable space. */
    def decode(dt: DataType, b: Array[Byte]): Option[Any] = try {
      val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      dt match {
        case IntegerType => Some(buf.getInt.toLong)
        // a 4-byte bound under a wider type is a PRE-PROMOTION file's
        // (spec serialization widths are fixed per type): decode by the
        // stored width and widen — range pruning keeps working across
        // int→long / float→double promotion
        case LongType =>
          Some(if (b.length == 4) buf.getInt.toLong else buf.getLong)
        case FloatType => Some(buf.getFloat.toDouble)
        case DoubleType =>
          Some(if (b.length == 4) buf.getFloat.toDouble else buf.getDouble)
        case StringType => Some(new String(b, "UTF-8"))
        case DateType => Some(buf.getInt.toLong)
        case TimestampType | TimestampNTZType => Some(buf.getLong)
        case d: DecimalType =>
          Some(new java.math.BigDecimal(new java.math.BigInteger(b), d.scale))
        case _ => None
      }
    } catch { case _: Exception => None }

    /** Caller-provided bound → the same comparable space as decode. */
    def boundKey(dt: DataType, v: Any): Option[Any] = try {
      dt match {
        case IntegerType | LongType => v match {
          case n: Number => Some(n.longValue())
          case _ => None
        }
        case FloatType | DoubleType => v match {
          case n: Number => Some(n.doubleValue())
          case _ => None
        }
        case StringType => Some(v.toString)
        case DateType => v match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case s: String => Some(java.time.LocalDate.parse(s).toEpochDay)
          case _ => None
        }
        case TimestampType | TimestampNTZType => v match {
          case t: java.sql.Timestamp => Some(tsMicros(t))
          case i: java.time.Instant =>
            Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
          case l: java.time.LocalDateTime => Some(ntzMicros(l))
          case s: String =>
            try Some(boundKey(dt, java.time.Instant.parse(s)).get)
            catch { case _: Exception =>
              Some(ntzMicros(java.time.LocalDateTime.parse(s))) }
          case _ => None
        }
        case _: DecimalType => Some(new java.math.BigDecimal(v.toString))
        case _ => None
      }
    } catch { case _: Exception => None }

    def compare(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
      case (x: String, y: String) => Some(x.compareTo(y))
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        Some(x.compareTo(y))
      case _ => None
    }
  }

  /** name → Iceberg field id, positionally (ids 1..n) — the
    * CREATION-time assignment. Only valid for a fresh table layout:
    * after a DROP COLUMN the live schema has id gaps, and positional
    * stamping would bind new data to the wrong (possibly dropped)
    * fields. */
  private def positionalIdOf(schema: StructType): String => Long = {
    val m = schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1L) }.toMap
    n => m.getOrElse(n, throw new IllegalArgumentException(
      s"no field '$n' in ${schema.fieldNames.mkString(",")}"))
  }

  /** name → field id from a snapshot-parsed table schema (ids ride in
    * each field's `parquet.field.id` metadata) — what every write into
    * an EXISTING table must stamp. Falls back to positional only when
    * the schema carries no ids at all (hand-crafted v1 fixtures). */
  private def schemaIdOf(schema: StructType): String => Long = {
    val m = schema.fields.flatMap { f =>
      if (f.metadata.contains("parquet.field.id"))
        Some(f.name -> f.metadata.getLong("parquet.field.id")) else None
    }.toMap
    if (m.size == schema.size)
      n => m.getOrElse(n, throw new IllegalArgumentException(
        s"no field '$n' in ${schema.fieldNames.mkString(",")}"))
    else positionalIdOf(schema)
  }

  /** Stamp `parquet.field.id` metadata onto a frame so staged parquet
    * files carry Iceberg field ids — the physical half of id-based
    * column resolution. `idOf` supplies the per-name id (positional at
    * creation, the TABLE's ids for any write into an existing table).
    * A plain Catalyst projection: no RDD round trip. */
  private def withFieldIds(df: DataFrame, idOf: String => Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(df.schema.fields.map { f =>
      col(f.name).as(f.name,
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", idOf(f.name)).build())
    }.toSeq: _*)
  }

  /** Per-file [min,max] of every orderable column in the spec's binary
    * single-value form, keyed by field id (ids 1..n, matching
    * schemaNode's assignment), from ONE aggregate scan grouped by file
    * ([[StagedFiles.perFile]]), keyed by staged path.
    * A bound lands only when BOTH min and max are representable —
    * one-sided bounds would make the admit test asymmetric. */
  private def collectBounds(spark: SparkSession, schema: StructType,
                            staged: Seq[String], idOf: String => Long,
                            // derived partition (name, expr) pairs to
                            // recover per file in the SAME scan — each
                            // staged file holds exactly one partition
                            // tuple, so first() reads the constant back
                            partVals: Seq[(String, org.apache.spark.sql.Column)] =
                              Seq.empty)
      : Map[String, (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]],
                     Map[String, Any])] = {
    val statCols = schema.fields.filter(f => StagedFiles.orderable(f.dataType))
    StagedFiles.perFile(spark, staged, statCols = statCols.map(_.name).toSeq,
        extras = partVals).map { case (path, fa) =>
      val lo = Map.newBuilder[Int, Array[Byte]]
      val hi = Map.newBuilder[Int, Array[Byte]]
      statCols.foreach { f =>
        val ca = fa.cols(f.name)
        for (mn <- SingleValue.encode(f.dataType, ca.min);
             mx <- SingleValue.encode(f.dataType, ca.max)) {
          lo += idOf(f.name).toInt -> mn
          hi += idOf(f.name).toInt -> mx
        }
      }
      path -> (fa.rows, lo.result(), hi.result(), fa.extras)
    }
  }

  /** Stage a partitioned frame's data files in ONE distributed write:
    * the derived partition expressions ride along as duplicate `__gp`
    * columns that `write.partitionBy` strips into directory names — so
    * the SOURCE columns stay inside the data files (Iceberg keeps
    * partition sources in data, unlike hive/Delta). The shuffle ahead
    * of the write follows the table's `write.distribution-mode`
    * property (spec §Table Properties, the Iceberg writer contract):
    *  - `hash` (default): REBALANCE on the partition tuple — under AQE
    *    small tuples coalesce into shared tasks (still one file per
    *    tuple, the directories separate them) and a SKEWED tuple
    *    splits across tasks at the advisory partition size. A strict
    *    `repartition(tuple)` would pin each tuple to ONE task — a
    *    straggler writing a 1 TB partition serially at 100 TB scale;
    *  - `range`: repartitionByRange on the tuple — range-clustered
    *    output, the mode to pair with a sort order;
    *  - `none`: no shuffle — each input task fans its rows out to the
    *    tuple directories it holds (use when upstream already
    *    clustered the data; more files, zero shuffle).
    * The shape this replaces ran one full-input Spark job per
    * partition tuple with a `coalesce(1)` funnel — P× the input
    * scanned and P job launches; at 100 TB the fan-out must happen
    * inside one shuffle (or, for `none`, zero). Partition VALUES are
    * not parsed back from the escaped directory names —
    * `collectBounds` recovers each file's constant tuple from the
    * data itself in the scan it already runs (constant per file in
    * every mode: the directory split guarantees it). Returns staged
    * paths, deterministically ordered. */
  private def stagePartitioned(dfIds: DataFrame, base: String,
                               dataDir: String,
                               derived: Seq[(String, org.apache.spark.sql.Column)],
                               idTag: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val gp = derived.indices.map(i => s"__gp$i")
    val scratch = TableIO.join(base, s".stage_$idTag")
    val projected = dfIds.select(dfIds.columns.map(col) ++
      derived.zip(gp).map { case ((_, c), g) => c.as(g) }: _*)
    // one partition directory level per spec field; null values land
    // under __HIVE_DEFAULT_PARTITION__
    StagedFiles.publish(scratch)(distributeForWrite(projected, base, gp.map(col))
        .write.mode("overwrite").partitionBy(gp: _*).parquet(_))(
      moveTo(dataDir, idTag))
  }

  /** The `place` callback that moves staged part `i` to
    * `dir/<prefix>-i.parquet` and returns that path. */
  private def moveTo(dir: String, prefix: String)(p: StagedFiles.Part): String = {
    val dst = TableIO.join(dir, s"$prefix-${p.index}.parquet")
    io.move(p.path, dst)
    dst
  }

  /** Bounds map → the avro map-as-array branch of the entry schema. */
  private def avroBounds(dfSchema: AvroSchema, field: String,
                         m: Map[Int, Array[Byte]]): AnyRef = {
    if (m.isEmpty) return null
    import scala.jdk.CollectionConverters._
    val arrSchema = dfSchema.getField(field).schema().getTypes.asScala
      .find(_.getType == AvroSchema.Type.ARRAY)
      .getOrElse(throw new IllegalStateException(s"no array branch in $field"))
    val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(arrSchema.getElementType)
      r.put("key", k); r.put("value", java.nio.ByteBuffer.wrap(v))
      arr.add(r)
    }
    arr
  }

  /** Stage `df` through one writer as `data/<name>`; returns its path. */
  private def stageOne(df: DataFrame, base: String, scratchName: String,
                       name: String): String =
    StagedFiles.publish(TableIO.join(base, scratchName))(
        df.coalesce(1).write.parquet(_)) { p =>
      val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
      val dst = TableIO.join(dataDir, name)
      io.move(p.path, dst)
      dst
    }.headOption.getOrElse(
      throw new IllegalStateException(s"no part file staged for $name"))

  private def writeAvro(f: String, schema: AvroSchema,
                        rows: Seq[GenericRecord]): Unit = {
    // written to bytes, published through the storage seam
    val baos = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, baos)
    try rows.foreach(w.append) finally w.close()
    io.writeBytes(f, baos.toByteArray)
  }

  private final case class TableState(
      version: Long, lastSnapshotId: Long,
      snapshots: Seq[(Long, String)], // (snapshotId, manifest-list path)
      liveManifests: Seq[String])     // manifests of the CURRENT snapshot

  /** Commit `df` as the next snapshot. `mode` "overwrite" starts the
    * file set fresh; "append" carries the previous snapshot's manifests
    * forward (manifest reuse, as Iceberg itself does). `summary` lands
    * in the snapshot's summary node (streaming sinks record their
    * batch identity there). */
  private def commitSnapshot(df: DataFrame, base: String, mode: String,
                             partitionBy: Seq[String] = Seq.empty,
                             summary: Map[String, String] = Map.empty,
                             branch: Option[String] = None,
                             createFormatVersion: Int = 2): Long =
    commitSnapshotSpec(df, base, mode,
      partitionBy.map(c => c -> (IceTransform.Identity: IceTransform)),
      summary, branch, createFormatVersion)

  /** The derived partition column for one spec entry: identity passes
    * the source through; bucket runs the codegen'd murmur3 expression;
    * truncate floors integrals / prefixes strings; day counts epoch
    * days. Returned with the spec-field name + value type. */
  private def derivedField(df: DataFrame, src: String, t: IceTransform)
  : (String, org.apache.spark.sql.Column, DataType) = {
    import org.apache.spark.sql.functions._
    val srcType = df.schema(src).dataType
    val name = if (t == IceTransform.Identity) src else s"$src${t.suffix}"
    t match {
      case IceTransform.Identity => (name, col(src), srcType)
      case IceTransform.Bucket(n) =>
        (name, graft.functions.IcebergTransforms.bucket(col(src), n), IntegerType)
      case IceTransform.Truncate(w) => srcType match {
        case LongType | IntegerType =>
          (name, col(src) - pmod(col(src), lit(w)), srcType)
        case StringType => (name, substring(col(src), 1, w), StringType)
        case other => throw new IllegalArgumentException(
          s"truncate[$w] unsupported on ${other.catalogString}")
      }
      case IceTransform.Day => (name, epochDayCol(df, src), IntegerType)
      // year/month derive from the same UTC epoch day as `day`
      // (reconstructed into a civil date by pure arithmetic —
      // date_add(1970-01-01, n) is timezone-free), so all three
      // time transforms agree with readEq's floorDiv scalars in any
      // session timezone
      case IceTransform.Year =>
        (name, expr(s"year(date_add(date'1970-01-01', " +
          s"(${epochDaySql(df, src)}))) - 1970"), IntegerType)
      case IceTransform.Month =>
        (name, expr(s"(year(date_add(date'1970-01-01', (${epochDaySql(df, src)}))) - 1970) * 12 " +
          s"+ month(date_add(date'1970-01-01', (${epochDaySql(df, src)}))) - 1"), IntegerType)
      case IceTransform.Hour => srcType match {
        case TimestampType =>
          (name, expr(
            s"cast((unix_micros(`$src`) div 3600000000) + " +
            s"(case when unix_micros(`$src`) % 3600000000 < 0 then -1 else 0 end) as int)"),
            IntegerType)
        case other => throw new IllegalArgumentException(
          s"hour transform requires a timestamp source, got ${other.catalogString}")
      }
    }
  }

  /** UTC epoch day of a date/timestamp column as an int Column (the
    * `day` transform, shared by year/month). Dates and wall-clock (NTZ)
    * timestamps are timezone-free: the civil date's epoch-day is the
    * partition value. TZ timestamps floor-divide unix micros — a
    * session-timezone cast('date') would disagree with readEq's UTC
    * dayOfMicros and prune the wrong files in any non-UTC session. */
  private def epochDayCol(df: DataFrame, src: String)
  : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(epochDaySql(df, src))

  private def epochDaySql(df: DataFrame, src: String): String =
    df.schema(src).dataType match {
      case DateType | TimestampNTZType =>
        s"datediff(cast(`$src` as date), date'1970-01-01')"
      case _ =>
        s"cast((unix_micros(`$src`) div 86400000000) + " +
        s"(case when unix_micros(`$src`) % 86400000000 < 0 then -1 else 0 end) as int)"
    }

  /** The table's DEFAULT partition spec as recorded: (spec-id, fields). */
  private def defaultSpecOf(m: JsonNode): (Int, Seq[SpecField]) = {
    val want = Option(m.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val specs = Option(m.get("partition-specs"))
      .getOrElse(mapper.createArrayNode())
    val fields = (0 until specs.size()).map(specs.get)
      .find(_.get("spec-id").asInt() == want)
      .map { s =>
        val fs = s.get("fields")
        (0 until fs.size()).map(fs.get).map(f => SpecField(
          f.get("name").asText(), f.get("transform").asText(),
          f.get("source-id").asInt(),
          Option(f.get("field-id")).map(_.asInt()).getOrElse(-1))).toSeq
      }.getOrElse(Seq.empty)
    want -> fields
  }

  private def commitSnapshotSpec(df: DataFrame, base: String, mode: String,
                                 spec: Seq[(String, IceTransform)],
                                 summary: Map[String, String] = Map.empty,
                                 branch: Option[String] = None,
                                 createFormatVersion: Int = 2): Long = {
    require(createFormatVersion == 2 || createFormatVersion == 3,
      s"format-version $createFormatVersion (this writer speaks 2 and 3)")
    // variant is a v3 type (spec §Primitive Types): creating a v2
    // table with one would write metadata v2 readers cannot parse
    if (df.schema.exists(_.dataType == VariantType))
      require(createFormatVersion >= 3 ||
        io.exists(TableIO.join(metadataDir(base), "version-hint.text")) &&
          readMeta(base).get("format-version").asInt() >= 3,
        "variant columns require format-version 3 — pass formatVersion = 3")
    val partitionBy = spec.map(_._1)
    val spark = df.sparkSession
    val metaDir = metadataDir(base); io.mkdirs(metaDir)
    val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
    val hint = TableIO.join(metaDir, "version-hint.text")
    val prev: Option[JsonNode] =
      if (io.exists(hint)) Some(readMeta(base)) else None
    // Branch writes (write-audit-publish): the new snapshot chains off
    // the BRANCH head and only the branch ref moves — main stays where
    // it is until fastForward publishes. A missing ref forks from the
    // current main head (Iceberg's write-to-new-branch behavior).
    branch.foreach { b =>
      require(mode == "append" && prev.isDefined,
        "branch writes are appends into an existing table")
      require(b != "main", "'main' is the default write target")
    }
    val branchBaseId: Option[Long] = branch.map { b =>
      val m = prev.get
      Option(m.get("refs")).flatMap(r => Option(r.get(b))).map { ref =>
        require(ref.get("type").asText() == "branch",
          s"ref '$b' is a tag — tags are immutable, cannot write to one")
        ref.get("snapshot-id").asLong()
      }.getOrElse(m.get("current-snapshot-id").asLong())
    }
    if (mode == "append") prev.foreach { m =>
      // schema check via Spark round trip, ignoring field metadata (the
      // parsed side carries parquet.field.id annotations). Names+types
      // must match exactly; nullability only in the unsafe direction —
      // a non-nullable frame may land in a nullable column (evolution
      // makes added columns nullable), never the reverse.
      def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      val table = DataType.fromJson(icebergSchemaToSparkJson(m))
        .asInstanceOf[StructType]
      require(shape(table) == shape(df.schema),
        s"iceberg fixture writer: append schema must match table schema " +
        s"(table ${shape(table)}, got ${shape(df.schema)})")
      table.fields.zip(df.schema.fields).foreach { case (t, d) =>
        require(t.nullable || !d.nullable,
          s"append would put nullable values into required column ${t.name}")
      }
    }
    // Appends into an existing table must stamp the TABLE's field ids
    // and carry its schema history forward: after evolution (RENAME
    // keeps ids, DROP leaves gaps, ADD appends past last-column-id) a
    // positional 1..n re-mint would bind new data to the wrong fields.
    // Creates and overwrites mint a fresh positional layout.
    val appendMeta: Option[JsonNode] =
      if (mode == "append") prev.filter(m => m.has("schemas")) else None
    val idOf: String => Long = appendMeta match {
      case Some(m) => schemaIdOf(
        DataType.fromJson(icebergSchemaToSparkJson(m)).asInstanceOf[StructType])
      case None => positionalIdOf(df.schema)
    }
    // The TABLE's stored default spec is authoritative on append: its
    // field NAMES key the new files' partition records (a renamed
    // source column does not rename the spec field) and its field IDS
    // stamp the entry schema — same no-re-mint invariant as schema ids.
    // The caller's (source, transform) pairs must match it positionally
    // (appendSpec derives them from this very spec).
    val storedSpec: Option[(Int, Seq[SpecField])] =
      appendMeta.map(defaultSpecOf)
    storedSpec.foreach { case (_, fields) =>
      require(fields.size == spec.size,
        s"append spec has ${spec.size} field(s) but the table's default " +
        s"spec has ${fields.size} — pass the table's spec (tableSpec)")
      fields.zip(spec).foreach { case (sf, (src, t)) =>
        require(sf.transform == t.spec && sf.sourceId == idOf(src),
          s"append spec field (${src}=${t.spec}) does not match the " +
          s"table's default spec field (${sf.name}=${sf.transform} of " +
          s"source-id ${sf.sourceId})")
      }
    }
    // derived partition fields (name, column expr, value type) — for
    // identity specs these are just the source columns; on append the
    // stored spec's names override the convention names
    val derived: Seq[(String, org.apache.spark.sql.Column, DataType)] = {
      val conv = spec.map { case (src, t) => derivedField(df, src, t) }
      storedSpec match {
        case Some((_, fields)) => conv.zip(fields).map {
          case ((_, c, dt), sf) => (sf.name, c, dt) }
        case None => conv
      }
    }
    val partTypes: Seq[(String, DataType)] =
      derived.map { case (n, _, dt) => n -> dt }
    // stage through an id-stamped projection so the parquet files carry
    // Iceberg field ids (the physical half of id-based resolution)
    val dfIds = withFieldIds(df, idOf)

    // 1. stage data files. Identity partitioning keeps the partition
    // columns IN the data files (Iceberg's shape, unlike Delta/hive);
    // partitioned frames fan out through ONE distributed partitionBy
    // write (stagePartitioned), never a per-tuple job loop.
    val id = UUID.randomUUID().toString
    // the order id new entries stamp (the CURRENT default — resolved
    // before staging so the sort and the stamp can't diverge)
    val writeOrderId: Option[Int] = currentWriteOrderId(base, dfIds.columns.toSeq)
    val stagedPaths: Seq[String] =
      if (partitionBy.isEmpty)
        StagedFiles.publish(TableIO.join(base, s".stage_${UUID.randomUUID()}"))(
          distributeForWrite(dfIds, base, Seq.empty)
            .write.mode("overwrite").parquet(_))(moveTo(dataDir, id))
      else stagePartitioned(dfIds, base, dataDir,
        derived.map { case (n, c, _) => (n, c) }, id)

    // 2. one new manifest for the added files, each entry carrying
    // per-file [lower, upper] bounds per field id (spec field-ids
    // 125/128) — the metadata that lets readRange skip files — and,
    // for partitioned tables, the file's partition tuple read back
    // from the data in the same scan
    val boundsByFile =
      collectBounds(spark, df.schema, stagedPaths, idOf,
        derived.map { case (n, c, _) => (n, c) })
    val dataFiles: Seq[(String, Map[String, Any])] = stagedPaths.map { f =>
      f -> boundsByFile.get(f)
        .map(_._4).getOrElse(Map.empty[String, Any])
    }
    // ---- publish. Everything below depends on the PREVIOUS metadata
    // and participates in the optimistic-concurrency retry: staged
    // data files and their bounds are reused verbatim across attempts;
    // only the manifest/list/metadata (metadata-scale avro + json)
    // rewrite with the rebased snapshot id. The retry loop after this
    // function rebases ONLY when the winning commit changed neither
    // the current schema nor the default spec — the two things the
    // staged files' field ids and partition records were stamped
    // against; anything else refuses loudly.
    def attemptPublish(prevA: Option[JsonNode]): Long = {
    // UniForm mirrors are read-only on the Iceberg side: a snapshot
    // committed here would diverge from the Delta log and the next
    // sync would silently erase it
    prevA.foreach { m =>
      require(!Option(m.get("properties")).exists(_.has(Uniform.TrackKey)),
        s"the Iceberg metadata at $base is a UniForm mirror of the " +
        "Delta table at the same location — it is read-only on the " +
        "Iceberg side; write through the Delta table instead")
    }
    val appendMetaA: Option[JsonNode] =
      if (mode == "append") prevA.filter(_.has("schemas")) else None
    val storedSpecA: Option[(Int, Seq[SpecField])] =
      appendMetaA.map(defaultSpecOf)
    val branchBaseIdA: Option[Long] = branch.map { b =>
      val m = prevA.get
      Option(m.get("refs")).flatMap(r => Option(r.get(b))).map { ref =>
        require(ref.get("type").asText() == "branch",
          s"ref '$b' is a tag — tags are immutable, cannot write to one")
        ref.get("snapshot-id").asLong()
      }.getOrElse(m.get("current-snapshot-id").asLong())
    }
    val snapshotId = prevA.map(nextSnapshotId).getOrElse(1L)
    val entrySchema = entrySchemaFor(partTypes,
      storedSpecA.map(_._2.map(_.fieldId)).getOrElse(Seq.empty))
    val mName = s"manifest-$id.avro"
    val mFile = TableIO.join(metaDir, mName)
    val entries = dataFiles.map { case (f, pv) =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", snapshotId)
      val dfSchema = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 0)
      dfr.put("file_path", PathCodec.absNorm(f))
      dfr.put("file_format", "PARQUET")
      // record_count is the spec's REQUIRED per-file row count (field
      // 103) — the filesTable and scan planners read it, so it must be
      // real, from the same one grouped scan that collects bounds
      dfr.put("record_count",
        boundsByFile.get(f).map(_._1).getOrElse(0L))
      dfr.put("file_size_in_bytes", io.length(f))
      writeOrderId.foreach(v => dfr.put("sort_order_id", Int.box(v)))
      boundsByFile.get(f).foreach { case (_, lo, hi, _) =>
        dfr.put("lower_bounds", avroBounds(dfSchema, "lower_bounds", lo))
        dfr.put("upper_bounds", avroBounds(dfSchema, "upper_bounds", hi))
      }
      if (partitionBy.nonEmpty) {
        val pr = new GenericData.Record(dfSchema.getField("partition").schema())
        pv.foreach { case (k, v) => pr.put(k, avroPartitionValue(v)) }
        dfr.put("partition", pr)
      }
      rec.put("data_file", dfr)
      rec
    }
    writeAvro(mFile, entrySchema, entries)

    // 3. manifest list = new manifest (+ carried manifests on append,
    // preserving their recorded content kinds and sequence numbers)
    val carried: Seq[ManifestRef] =
      if (mode == "append" && prevA.isDefined)
        manifestsOfSnapshot(base, prevA.get,
          branchBaseIdA.getOrElse(
            prevA.get.get("current-snapshot-id").asLong()))
      else Seq.empty
    val mlName = s"snap-$snapshotId-$id.avro"
    val mlFile = TableIO.join(metaDir, mlName)
    // spec v3 §Row Lineage: the new manifest's files take ids starting
    // at the table's next-row-id (per-file values INHERIT from this
    // manifest-list field — nothing is stamped per entry); carried
    // manifests keep the ids they were assigned at their own commit
    val fvA = prevA.map(_.get("format-version").asInt())
      .getOrElse(createFormatVersion)
    val rowIdBase: Option[Long] =
      if (fvA < 3) None
      else Some(prevA.flatMap(m => Option(m.get("next-row-id"))
        .map(_.asLong())).getOrElse(0L))
    val addedRows = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").toString.toLong).sum
    writeManifestList(mlFile,
      carried :+ ManifestRef(mFile, 0, snapshotId, snapshotId,
        storedSpecA.map(_._1).getOrElse(0), firstRowId = rowIdBase))

    // 4. new metadata json + version hint (atomic rename commit) —
    // assembled with the Jackson node API end to end: interpolating
    // names or paths into JSON text breaks on the first quote or
    // backslash in a column name
    val version = prevA.flatMap(_ => Some(
      io.readString(hint).trim.toLong + 1)).getOrElse(1L)
    val root = mapper.createObjectNode()
    // the format version is the TABLE's, chosen at creation and carried
    // on every rebuild (upgrades go through upgradeFormatVersion)
    root.put("format-version",
      prevA.map(_.get("format-version").asInt()).getOrElse(createFormatVersion))
    // table-uuid is the TABLE's identity, not the commit's: spec
    // readers may verify it across metadata versions, so it must
    // persist from the first commit on (minted only at creation)
    root.put("table-uuid",
      prevA.flatMap(m => Option(m.get("table-uuid")).map(_.asText()))
        .getOrElse(UUID.randomUUID().toString))
    root.put("location", base)
    // table properties persist across commits (a data write never edits
    // them): dropping schema.name-mapping.default here would leave a
    // converted table's id-less files unreadable after the first append
    prevA.foreach(m => Option(m.get("properties")).foreach(p =>
      root.set[JsonNode]("properties", p.deepCopy())))
    // statistics files persist across data commits (snapshot-keyed;
    // readers judge staleness by the recorded snapshot-id — Iceberg's
    // own behavior, refreshed by ANALYZE/compaction, never dropped)
    prevA.foreach(m => Option(m.get("statistics")).foreach(s =>
      root.set[JsonNode]("statistics", s.deepCopy())))
    prevA.foreach(m => Option(m.get("partition-statistics")).foreach(s =>
      root.set[JsonNode]("partition-statistics", s.deepCopy())))
    val committedAtMs = clock() // ONE instant per commit
    root.put("last-sequence-number", snapshotId)
    root.put("last-updated-ms", committedAtMs)
    val schemaIdUsed = appendMetaA match {
      case Some(m) =>
        // carry the evolved schema history VERBATIM: ids, gaps,
        // last-column-id and all — an append changes data, not schema
        root.put("last-column-id", m.get("last-column-id").asInt())
        root.put("current-schema-id", m.get("current-schema-id").asInt())
        root.set[JsonNode]("schemas", m.get("schemas").deepCopy())
        m.get("current-schema-id").asInt()
      case None =>
        root.put("last-column-id", df.schema.size)
        root.put("current-schema-id", 0)
        root.putArray("schemas").add(schemaNode(df.schema))
        0
    }
    storedSpecA match {
      case Some((wantId, _)) =>
        // an append changes data, not partition layout: carry the full
        // spec history VERBATIM (older specs still describe older
        // files' partition records) — re-minting a single spec-id 0
        // here would erase partition evolution
        root.put("default-spec-id", wantId)
        root.set[JsonNode]("partition-specs",
          appendMetaA.get.get("partition-specs").deepCopy())
        root.put("last-partition-id",
          Option(appendMetaA.get.get("last-partition-id")).map(_.asInt())
            .getOrElse(999 + spec.size))
      case None =>
        root.put("default-spec-id", 0)
        val spec0 = root.putArray("partition-specs").addObject()
        spec0.put("spec-id", 0)
        val specFields = spec0.putArray("fields")
        spec.zipWithIndex.foreach { case ((src, t), i) =>
          val fn = specFields.addObject()
          fn.put("name", derived(i)._1); fn.put("transform", t.spec)
          fn.put("source-id", idOf(src)) // table ids on append, 1..n fresh
          fn.put("field-id", 1000 + i)
        }
        root.put("last-partition-id", 999 + spec.size)
    }
    // sort orders survive every rebuild (a data commit must not reset
    // the table's write order); fresh tables start at unsorted order 0
    prevA.flatMap(m => Option(m.get("sort-orders"))) match {
      case Some(orders) =>
        root.set[JsonNode]("sort-orders", orders.deepCopy())
        root.put("default-sort-order-id",
          prevA.flatMap(m => Option(m.get("default-sort-order-id")))
            .map(_.asInt()).getOrElse(0))
      case None =>
        root.put("default-sort-order-id", 0)
        val so = root.putArray("sort-orders").addObject()
        so.put("order-id", 0); so.putArray("fields")
    }
    root.put("current-snapshot-id",
      if (branch.isDefined) prevA.get.get("current-snapshot-id").asLong()
      else snapshotId)
    // named refs survive every rebuild: a tag dropped by a later
    // append would silently unpin its snapshot from expiration
    prevA.foreach { m =>
      Option(m.get("refs")).foreach(r =>
        root.set[JsonNode]("refs", r.deepCopy()))
    }
    branch.foreach { b =>
      val refs =
        if (root.has("refs"))
          root.get("refs")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else root.putObject("refs")
      val r = refs.putObject(b)
      r.put("snapshot-id", snapshotId); r.put("type", "branch")
    }
    val snapsArr = root.putArray("snapshots")
    prevA.foreach { m =>
      val snaps = m.get("snapshots")
      (0 until snaps.size()).foreach(i => snapsArr.add(snaps.get(i)))
    }
    rowIdBase.foreach { b => root.put("next-row-id", b + addedRows) }
    val snapNode = snapsArr.addObject()
    snapNode.put("snapshot-id", snapshotId)
    // the ancestry link fastForward's publish check walks
    branchBaseIdA.orElse(
      prevA.map(_.get("current-snapshot-id").asLong()).filter(_ > 0))
      .foreach(pid => snapNode.put("parent-snapshot-id", pid))
    snapNode.put("sequence-number", snapshotId)
    rowIdBase.foreach(b => snapNode.put("first-row-id", b))
    snapNode.put("timestamp-ms", committedAtMs)
    snapNode.put("manifest-list", PathCodec.absNorm(mlFile))
    val sm = snapNode.putObject("summary")
    sm.put("operation", mode)
    // spec §Metrics: the writer's own counts, plus running totals
    // derived INCREMENTALLY from the parent summary (never a manifest
    // walk — at thousands of manifests totals must be O(1) per
    // commit). A parent without totals (a foreign writer, or a
    // delete/replace snapshot that doesn't track them) breaks the
    // chain and the totals are omitted — absent beats wrong, the spec
    // marks them optional. Caller extras land after and may override.
    val addedBytes = stagedPaths.map(io.length).sum
    sm.put("added-data-files", stagedPaths.size.toString)
    sm.put("added-records", addedRows.toString)
    sm.put("added-files-size", addedBytes.toString)
    val parentTotals: Option[(Long, Long, Long)] =
      if (branch.isDefined) None
      else prevA.flatMap { m =>
        val pid = m.get("current-snapshot-id").asLong()
        val snaps = m.get("snapshots")
        (0 until snaps.size()).map(snaps.get)
          .find(_.get("snapshot-id").asLong() == pid)
          .flatMap(s => Option(s.get("summary")))
          .flatMap { s =>
            for {
              f <- Option(s.get("total-data-files")).map(_.asText().toLong)
              r <- Option(s.get("total-records")).map(_.asText().toLong)
              b <- Option(s.get("total-files-size")).map(_.asText().toLong)
            } yield (f, r, b)
          }
      }
    val totals: Option[(Long, Long, Long)] =
      if (mode == "overwrite" || prevA.isEmpty)
        // the file set restarts (or begins) with exactly the staging
        Some((stagedPaths.size.toLong, addedRows, addedBytes))
      else if (mode == "append" && branch.isEmpty)
        parentTotals.map { case (f, r, b) =>
          (f + stagedPaths.size, r + addedRows, b + addedBytes) }
      else None
    totals.foreach { case (f, r, b) =>
      sm.put("total-data-files", f.toString)
      sm.put("total-records", r.toString)
      sm.put("total-files-size", b.toString)
    }
    summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    snapNode.put("schema-id", schemaIdUsed)
    val logProps = attachMetadataLogs(base, version, root, committedAtMs)
    val tmp = TableIO.join(metaDir, s".tmp_${UUID.randomUUID()}")
    io.writeString(tmp, mapper.writeValueAsString(root))
    val dst = TableIO.join(metaDir, s"v$version.metadata.json")
    // atomic put-if-absent = the metadata commit
    if (!io.putIfAbsent(tmp, dst))
      throw new java.util.ConcurrentModificationException(
        s"iceberg metadata v$version already exists in $base")
    io.writeString(hint, version.toString)
    pruneMetadataVersions(base, version, logProps)
    // Delta-mirror hook (see commitMetadataVersion)
    DeltaMirror.markDirty(base)
    snapshotId
    } // attemptPublish

    // Optimistic-concurrency reconciliation (the contract Iceberg's
    // own SnapshotProducer retry implements): an APPEND depends on no
    // existing file, so losing the metadata version race to another
    // writer is recoverable — re-read the winner's metadata, verify it
    // changed neither the current schema nor the default spec, and
    // republish the SAME staged files chained onto the new head. Two
    // interleaved disjoint appends both land. Non-append modes (an
    // overwrite losing a race would erase the winner's rows) and
    // schema/spec races refuse with the original exception.
    var prevNow = prev
    TableIO.retryOnConflict(TableIO.RebaseRetries, onLoss = { e =>
      if (mode != "append" || prev.isEmpty) throw e
      val m = readMeta(base)
      val sameSchema =
        icebergSchemaToSparkJson(prev.get) == icebergSchemaToSparkJson(m)
      val sameSpec = defaultSpecOf(prev.get) == defaultSpecOf(m)
      if (!sameSchema || !sameSpec)
        throw new java.util.ConcurrentModificationException(
          s"append to $base lost the commit race to a concurrent " +
          "schema or partition-spec change — the staged files were " +
          "stamped against the old definition; re-run the append", e)
      prevNow = Some(m)
    })(_ => attemptPublish(prevNow))
  }

  /** The table's CURRENT schema as a Spark StructType (field-id
    * metadata attached) — one metadata-json read, no manifest walk.
    * The Delta-mirror sync compares this against the mirror's schema:
    * Iceberg schema evolution is metadata-only (no new snapshot), so a
    * snapshot-id equality check alone would miss it. */
  private[graft] def currentSparkSchema(base: String): StructType =
    DataType.fromJson(icebergSchemaToSparkJson(readMeta(base)))
      .asInstanceOf[StructType]

  /** True iff the table resolves its data files by NAME MAPPING (spec
    * §Name Mapping Serialization) — i.e. the files carry NO parquet
    * field ids, so an id-mapped Delta mirror cannot resolve them. */
  private[sources] def hasNameMapping(base: String): Boolean =
    Option(readMeta(base).get("properties"))
      .exists(_.has("schema.name-mapping.default"))

  private def icebergSchemaToSparkJson(meta: JsonNode): String = {
    val ss = meta.get("schemas")
    val want = meta.get("current-schema-id").asInt()
    val node = (0 until ss.size()).map(ss.get)
      .find(_.get("schema-id").asInt() == want).get
    icebergTypeToSpark(node).json
  }

  def overwrite(df: DataFrame, base: String,
                partitionBy: Seq[String] = Seq.empty,
                formatVersion: Int = 2): Long =
    commitSnapshot(df, base, "overwrite", partitionBy,
      createFormatVersion = formatVersion)

  /** Commit position deletes as a new v2 snapshot — the merge-on-read
    * shape Flink/Spark v2 writers produce: one (file_path, pos) parquet
    * delete file, one delete manifest (content=1), and a manifest list
    * carrying every current manifest forward with its recorded sequence
    * number. `deletes` maps a data file's manifest-recorded file_path
    * string to the row positions to delete. */
  def addPositionDeletes(spark: SparkSession, base: String,
                         deletes: Seq[(String, Seq[Long])]): Long = {
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    require(prev.get("format-version").asInt() == 2,
      "position-delete FILES are format-v2 only (v3 forbids new ones — " +
      "deletes on a v3 table write deletion vectors; use the *Where/" +
      "*InSource forms)")
    val snapshotId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString

    // 1. the delete file: (file_path, pos) parquet, sorted per spec
    import spark.implicits._
    val rows = deletes.flatMap { case (p, ps) => ps.distinct.map(pos => (p, pos)) }
      .sorted
    require(rows.nonEmpty, "no positions to delete")
    val delFile = stageOne(rows.toDF("file_path", "pos"), base,
      s".stage_$id", s"delete-$id.parquet")

    // 2. the delete manifest (a content=1 file entry)
    val entrySchema = entrySchemaFor(Seq.empty)
    val mFile = TableIO.join(metaDir, s"manifest-del-$id.avro")
    val rec = new GenericData.Record(entrySchema)
    rec.put("status", 1); rec.put("snapshot_id", snapshotId)
    val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
    dfr.put("content", 1) // 1 = position deletes
    dfr.put("file_path", PathCodec.absNorm(delFile))
    dfr.put("file_format", "PARQUET")
    dfr.put("record_count", rows.size.toLong)
    dfr.put("file_size_in_bytes", io.length(delFile))
    rec.put("data_file", dfr)
    writeAvro(mFile, entrySchema, Seq(rec))

    commitDeleteSnapshot(base, prev, mFile, snapshotId, id,
      referencedRaw = Some(deletes.map(_._1).toSet))
  }

  /** Files the predicate can possibly match, by manifest [lower,
    * upper] bounds — the DML classification-scan scope (the Delta
    * analogue lives in `DeltaDml.scopedFiles`). Conservative by
    * `boundsAdmit`'s contract: only provably-disjoint files drop;
    * constraints come from `PredicateBounds` (non-analyzable conjuncts
    * prune nothing), resolved to field ids through the schema's
    * `parquet.field.id` metadata. */
  private[sources] def scopedFiles(snap: IcebergSnapshot,
                                   predicate: org.apache.spark.sql.Column): Seq[DataFileEntry] = {
    val byName = snap.schema.fields.map(f => f.name -> f).toMap
    val cs = PredicateBounds.rangeConstraints(
      org.apache.spark.sql.GraftBridge.catalystExpression(predicate)).toSeq.flatMap {
      case (c, b) => byName.get(c).flatMap { f =>
        if (!f.metadata.contains("parquet.field.id")) None
        else {
          val fid = f.metadata.getLong("parquet.field.id").toInt
          val loK = b.lo.flatMap(SingleValue.boundKey(f.dataType, _))
          val hiK = b.hi.flatMap(SingleValue.boundKey(f.dataType, _))
          if (loK.isEmpty && hiK.isEmpty) None
          else Some((fid, f.dataType, loK, hiK))
        }
      }
    }
    if (cs.isEmpty) snap.files
    else snap.files.filter(df => cs.forall { case (fid, dt, lo, hi) =>
      boundsAdmit(df, fid, dt, lo, hi) })
  }

  /** Predicate-driven positional DELETE, fully distributed — the
    * production form of `addPositionDeletes`: one merge-on-read scan
    * classifies LIVE rows (existing position/equality deletes already
    * subtracted, so replaying an overlapping predicate never
    * double-records a coordinate), the matched (file_path, pos) rows
    * are staged as sorted parquet delete files straight from the
    * executors — no position ever passes through a driver-side Seq —
    * and one delete manifest commits them all. Delete files are sized
    * ~4M coordinates each (range-partitioned by (file_path, pos), so
    * each stays sorted as the spec requires). Returns the new snapshot
    * id, or the current one when nothing matched (no empty commit). */
  def deletePositionsWhere(spark: SparkSession, base: String,
                           predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    deletePositionsClassified(spark, base, scopedFiles(_, predicate),
      _.filter(coalesce(predicate, lit(false))))
  }

  /** Semi/anti-join positional DELETE: rows whose `key` appears (IN) or
    * does not appear (NOT IN) in `sourceKeys` get position-delete
    * entries — the lowering for `DELETE FROM t WHERE k [NOT] IN
    * (SELECT ...)`, with the subquery as a distributed join side.
    * Contracts mirror the graft-log/Delta primitives: NULL-producing
    * NOT IN subqueries are the caller's refusal; `keepNullKeys` keeps
    * NULL-keyed target rows alive (SQL NOT IN compares them UNKNOWN);
    * the IN form scopes the scan by the subquery's [min,max] key
    * range through the manifest bounds. */
  def deletePositionsInSource(spark: SparkSession, base: String,
                              sourceKeys: DataFrame, key: String): Long = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val src = sourceKeys.select(col(key)).distinct().persist()
    try deletePositionsClassified(spark, base,
      snap => {
        val mm = src.agg(min(col(key)), max(col(key))).head()
        if (mm.isNullAt(0)) Seq.empty // empty/all-NULL subquery
        else scopedFiles(snap,
          col(key) >= lit(mm.get(0)) && col(key) <= lit(mm.get(1)))
      },
      _.join(src, Seq(key), "left_semi"))
    finally src.unpersist()
  }

  def deletePositionsNotInSource(spark: SparkSession, base: String,
                                 sourceKeys: DataFrame, key: String,
                                 keepNullKeys: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val src = sourceKeys.select(col(key)).distinct().persist()
    try deletePositionsClassified(spark, base, _.files, { scan =>
      val cand = if (keepNullKeys) scan.filter(col(key).isNotNull)
                 else scan
      cand.join(src, Seq(key), "left_anti")
    })
    finally src.unpersist()
  }

  /** Shared positional-delete body: `scope` bounds the classification
    * scan to candidate data files; `classify` maps the coordinate-
    * keeping live scan to the rows to delete. */
  private def deletePositionsClassified(spark: SparkSession, base: String,
                                        scope: IcebergSnapshot => Seq[DataFileEntry],
                                        classify: DataFrame => DataFrame): Long = {
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    val fv = prev.get("format-version").asInt()
    require(fv == 2 || fv == 3,
      "row-level deletes need Iceberg format v2 (position-delete files) " +
      "or v3 (deletion vectors)")
    val snap = snapshot(spark, base)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // normalized scan path → the manifest's EXACT file_path string (the
    // coordinate system delete files must reference) — metadata scale
    val rawByKey = snap.files.map(f =>
      (PathCodec.metadataPathKey(f.path), f.rawPath))
      .toDF("__ice_file", "__raw")
    // persisted: the classification scan (parquet read + delete anti
    // joins) feeds BOTH the sizing count and the staged write — without
    // the pin it would run twice, and it dominates the delete's cost.
    // Scoped by manifest bounds: provably-unmatchable files never open.
    val scoped = scope(snap)
    if (scoped.isEmpty) return prev.get("current-snapshot-id").asLong()
    val matched = classify(assembleRead(spark, snap, scoped,
        keepCoords = true))
      .join(broadcast(rawByKey), Seq("__ice_file"))
      .select(col("__raw").as("file_path"), col("__ice_pos").as("pos"))
      .persist()
    // ONE bounded job materializes the persist AND yields per-target-
    // file match counts (rows ≤ live file count — metadata scale): the
    // total replaces a separate count(), and the key set IS the
    // referenced-data-files set the commit needs — the previous shape
    // re-scanned the just-written delete parquets for it (a whole
    // Spark job whose answer was already on the driver).
    val byFile = matched.groupBy(col("file_path")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = byFile.map(_._2).sum
    if (n == 0) {
      matched.unpersist(blocking = false)
      return prev.get("current-snapshot-id").asLong()
    }
    val snapshotId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString
    if (fv == 3)
      return try commitDvDelete(spark, base, prev, snap, matched,
        snapshotId, id, byFile.map(_._1).toSet)
      finally matched.unpersist(blocking = false)
    try {
    val parts = math.max(1, math.ceil(n / 4e6).toInt)
    val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
    val delFiles = StagedFiles.publish(TableIO.join(base, s".stage_$id"))(
      matched.repartitionByRange(parts, col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos") // spec: sorted delete files
        .write.parquet(_))(moveTo(dataDir, s"delete-$id"))
    matched.unpersist()
    // per-delete-file record counts: the single-output-file case (the
    // overwhelmingly common one — `parts` only exceeds 1 past 4M
    // matched coordinates) is known without touching storage: all n
    // rows landed in the one file. Only a multi-file split pays a
    // post-write grouped scan to attribute rows to files.
    val counts: Map[String, Long] =
      if (delFiles.size == 1) Map(delFiles.head -> n)
      else StagedFiles.perFile(spark, delFiles).map { case (f, fa) => f -> fa.rows }
    val entrySchema = entrySchemaFor(Seq.empty)
    val recs = delFiles.map { df =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", snapshotId)
      val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
      dfr.put("content", 1) // 1 = position deletes
      dfr.put("file_path", PathCodec.absNorm(df))
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", counts.getOrElse(df, 0L))
      dfr.put("file_size_in_bytes", io.length(df))
      rec.put("data_file", dfr)
      rec
    }
    val mFile = TableIO.join(metaDir, s"manifest-del-$id.avro")
    writeAvro(mFile, entrySchema, recs)
    // referenced data files (distinct refs ≤ live file count — metadata
    // scale): lets the commit rebase over a racing disjoint append.
    // Already on the driver as byFile's key set — no re-scan of the
    // delete parquets just written.
    commitDeleteSnapshot(base, prev, mFile, snapshotId, id,
      referencedRaw = Some(byFile.map(_._1).toSet))
    } finally matched.unpersist(blocking = false)
  }

  /** The data files a row-level delete entry references: a DV names
    * its one target in the manifest entry (pure metadata); a position-
    * delete parquet needs one bounded distinct scan. */
  private def deleteFileRefs(spark: SparkSession,
                             d: PositionDeleteFile): Set[String] =
    d.referencedDataFile match {
      case Some(ref) => Set(ref)
      case None =>
        spark.read.parquet(d.path).select("file_path")
          .distinct().collect().map(_.getString(0)).toSet
    }

  /** All delete coordinates of `dels` as one (file_path, pos,
    * __del_seq) frame, whatever their encoding — `file_path` is the
    * manifest's exact data-file string, `__del_seq` the delete's data
    * sequence. Position-delete parquet scans distributed (one scan per
    * sequence); v3 deletion vectors decode driver-side — bounded by the
    * on-disk DV bytes (compressed bitmaps, metadata scale), the exact
    * shape of the Delta DV read path — and must decode to their
    * manifest record_count. A DV supersedes position-delete rows aimed
    * at its file: v3 forbids NEW position-delete files, so any DV
    * postdates every position delete for its target, and the DV writer
    * merged those positions into the vector — they drop instead of
    * double-applying. */
  private def deleteCoordsDf(spark: SparkSession,
                             dels: Seq[PositionDeleteFile]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    import spark.implicits._
    val (dvDels, posDels) = dels.partition(_.dv)
    val dvRows: Seq[(String, Long, Long)] = dvDels.flatMap { d =>
      val ps = Puffin.readDvBlob(io.readBytes(d.path), dvOffsetOf(d),
        dvSizeOf(d), d.path)
      require(d.recordCount < 0 || ps.length.toLong == d.recordCount,
        s"deletion vector ${d.path} decodes ${ps.length} positions but " +
        s"declares ${d.recordCount} — corrupt DV (refusing)")
      ps.map(p => (d.referencedDataFile.get, p, d.seq))
    }
    // superseded rows drop via ONE broadcast anti join — a literal
    // isin() would grow the plan linearly with the DV count
    val dvRefs = dvRows.map(_._1).distinct.toDF("file_path")
    val delSchema = StructType(Seq(
      StructField("file_path", StringType),
      StructField("pos", LongType)))
    val posParts = posDels.groupBy(_.seq).toSeq.map { case (seq, fs) =>
      val df0 = spark.read.schema(delSchema).parquet(fs.map(_.path): _*)
        .withColumn("__del_seq", lit(seq))
      if (dvRows.isEmpty) df0
      else df0.join(broadcast(dvRefs), Seq("file_path"), "left_anti")
    }
    (posParts :+ dvRows.toDF("file_path", "pos", "__del_seq"))
      .reduce(_ unionByName _)
  }

  /** Format-v3 DELETE tail (spec v3 §Deletion Vectors): the matched
    * coordinates fold into DELETION VECTORS — one puffin file per
    * touched data file, serialized and written ON THE EXECUTORS where
    * the grouped coordinates already are (the exact shape of the Delta
    * DV writer); only one descriptor row per file returns to the
    * driver. The new vector REPLACES every older delete for its file:
    * the executor task unions the file's previous DV (read through the
    * storage seam) and any v2-era position-delete rows for the file
    * union in as a dataframe side — so readers may ignore superseded
    * deletes, exactly as the spec requires ("a deletion vector must
    * contain all positions previously deleted for its data file").
    * The commit carries every current manifest minus superseded DV
    * entries, and rebases over racing DISJOINT commits: the check
    * refuses when a winner rewrote a referenced file or touched any of
    * the same files' vectors (the union base would be stale). */
  private def commitDvDelete(spark: SparkSession, base: String,
                             prev: JsonNode, snap: IcebergSnapshot,
                             matched: DataFrame, snapshotId: Long,
                             id: String,
                             // touched data files, already collected by
                             // the caller's sizing job — bounded by the
                             // live file count, metadata scale
                             touchedRaw: Set[String]): Long = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val metaDir = metadataDir(base)
    val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
    // v2-era position-delete rows for touched files (upgrade path):
    // they fold into the new vector so it supersedes them — gated by
    // data sequence exactly as the read path applies them (a delete
    // only ever masked files with seq ≤ its own; folding an
    // inapplicable row would bake a wrongful permanent delete)
    val legacy = snap.deletes.filterNot(_.dv)
    val toFold =
      if (legacy.isEmpty) matched
      else {
        val touchedSeq = snap.files
          .filter(f => touchedRaw.contains(f.rawPath))
          .map(f => (f.rawPath, f.seq)).toDF("file_path", "__fseq")
        val legacyRows = deleteCoordsDf(spark, legacy)
          .join(broadcast(touchedSeq), Seq("file_path"))
          .where(col("__fseq") <= col("__del_seq"))
          .select(col("file_path"), col("pos"))
        matched.unionByName(legacyRows)
      }
    def dvKeyOf(s: IcebergSnapshot): Map[String, (String, Long)] =
      s.deletes.filter(_.dv).flatMap(d => d.referencedDataFile.map(r =>
        r -> (d.path, d.contentOffset.getOrElse(-1L)))).toMap
    val dvByRawB = spark.sparkContext.broadcast(
      snap.deletes.filter(_.dv).flatMap(d => d.referencedDataFile.map(r =>
        r -> (d.path, dvOffsetOf(d), dvSizeOf(d)))).toMap)
    val baseStr = base
    val sid = snapshotId
    val written: Array[(String, String, Long, Long, Long)] =
      toFold.groupBy("file_path").agg(collect_list(col("pos")).as("ps"))
        .as[(String, Seq[Long])]
        .mapPartitions { it =>
          it.map { case (raw, ps) =>
            val old = dvByRawB.value.get(raw).map { case (p, off, len) =>
              Puffin.readDvBlob(TableIO().readBytes(p), off, len, p).toSeq
            }.getOrElse(Seq.empty)
            val all = (old ++ ps).distinct.sorted
            val name = s"dv-${UUID.randomUUID()}.puffin"
            val (bytes, locs) = Puffin.dvFileBytes(Seq(raw -> all), sid, sid)
            TableIO().writeBytes(
              TableIO.join(TableIO.join(baseStr, "data"), name), bytes)
            (raw, name, locs.head.offset, locs.head.length,
              locs.head.cardinality)
          }
        }
        .collect() // ONE ROW PER TOUCHED FILE — metadata scale
    matched.unpersist()
    val entrySchema = entrySchemaFor(Seq.empty)
    val recs = written.toSeq.map { case (raw, name, off, len, card) =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", snapshotId)
      val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
      val p = TableIO.join(dataDir, name)
      dfr.put("content", 1) // DVs live in the position-delete slot
      dfr.put("file_path", PathCodec.absNorm(p))
      dfr.put("file_format", "PUFFIN")
      dfr.put("record_count", card)
      dfr.put("file_size_in_bytes", io.length(p))
      dfr.put("referenced_data_file", raw)
      dfr.put("content_offset", off)
      dfr.put("content_size_in_bytes", len)
      rec.put("data_file", dfr)
      rec
    }
    val mFile = TableIO.join(metaDir, s"manifest-del-$id.avro")
    writeAvro(mFile, entrySchema, recs)
    def deleteRef(newId: Long) = ManifestRef(mFile, 1, newId, newId,
      Option(prev.get("default-spec-id")).map(_.asInt()).getOrElse(0))
    val rebase = SnapshotRebase(
      check = head => {
        val live = snapshotLiveRaw(base, head)
        if (!touchedRaw.subsetOf(live))
          throw new java.util.ConcurrentModificationException(
            s"DV delete on $base lost the race to a commit that rewrote " +
            "a referenced data file — the recorded positions no longer " +
            "apply, refusing")
        // the staged vectors are old ∪ new; a winner that changed any
        // touched file's vector makes that union stale. Derived from
        // the SAME head the rebase will build against — a live re-read
        // could see an even newer racer and validate the wrong state.
        val headDv = dvKeyOf(snapshot(spark, base,
          Some(head.get("current-snapshot-id").asLong())))
        val prevDv = dvKeyOf(snap)
        touchedRaw.foreach { r =>
          if (headDv.get(r) != prevDv.get(r))
            throw new java.util.ConcurrentModificationException(
              s"DV delete on $base lost the race to a commit that also " +
              s"rewrote the deletion vector of $r — refusing to publish " +
              "a vector folded from the stale one")
        }
      },
      buildRefs = (head, newId) => {
        if (newId != snapshotId) {
          // the staged puffin footers and manifest entries named the
          // FIRST-ATTEMPT id; after a rebase the snapshot publishes
          // under newId, so restage both — external validators of the
          // puffin footer / entry snapshot_id must see an id that
          // actually committed. Blob bytes precede the footer in the
          // puffin layout, so offsets/lengths are invariant (guarded).
          written.foreach { case (raw, name, off, len, _) =>
            val p = TableIO.join(dataDir, name)
            val poss = Puffin.readDvBlob(io.readBytes(p), off, len, p)
            val (bytes, locs) =
              Puffin.dvFileBytes(Seq(raw -> poss.toSeq), newId, newId)
            require(locs.head.offset == off && locs.head.length == len,
              s"puffin restage moved blob framing for $p (refusing)")
            io.writeBytes(p, bytes)
          }
          val (sch2, recs2) = readAvroWithSchema(mFile)
          recs2.foreach { r =>
            r.asInstanceOf[GenericData.Record].put("snapshot_id", newId)
            val dfr = r.get("data_file").asInstanceOf[GenericData.Record]
            // footer JSON length can shift with the id digits
            dfr.put("file_size_in_bytes",
              io.length(dfr.get("file_path").toString))
          }
          writeAvro(mFile, sch2, recs2)
        }
        carryManifestsWithoutDv(base, head, touchedRaw) :+ deleteRef(newId)
      })
    commitManifestListSnapshot(base, prev,
      carryManifestsWithoutDv(base, prev, touchedRaw) :+ deleteRef(snapshotId),
      snapshotId, id, "delete", rebase = Some(rebase))
  }

  /** Carry every current manifest forward, dropping DV entries whose
    * referenced data file is in `touchedRaw` (the new vector replaces
    * them — at most one DV per data file, spec v3). Pure metadata:
    * unlike position-delete liveness this never opens a delete file. */
  private def carryManifestsWithoutDv(base: String, prev: JsonNode,
                                      touchedRaw: Set[String]): Seq[ManifestRef] = {
    val metaDir = metadataDir(base)
    currentManifests(base, prev).flatMap { m =>
      if (m.content == 0) Some(m)
      else {
        val (sch, recs) = readAvroWithSchema(m.file)
        val kept = recs.filter { e =>
          e.get("status").toString.toInt != 2 && {
            val dfr = e.get("data_file").asInstanceOf[GenericRecord]
            val ref = opt(dfr, "referenced_data_file").map(_.toString)
            !ref.exists(touchedRaw.contains)
          }
        }
        if (kept.size == recs.size) Some(m)
        else if (kept.isEmpty) None
        else {
          val nf = TableIO.join(metaDir,
            s"manifest-filtered-${UUID.randomUUID()}.avro")
          writeAvro(nf, sch, kept)
          Some(m.copy(file = nf))
        }
      }
    }
  }

  /** Row-level CHANGELOG over snapshot ids in (fromSnapshotId,
    * toSnapshotId] — the Iceberg analogue of Delta's change feed
    * (Spark's `changelog` scan semantics), derived per consecutive
    * snapshot pair from the metadata diff:
    *
    *  - data files present in the newer snapshot only → their live rows
    *    emit `insert`;
    *  - data files present in the older snapshot only → their
    *    previously-live rows emit `delete`;
    *  - POSITION-DELETE files new in the newer snapshot → the carried
    *    data files' rows at those coordinates emit `delete` (positions
    *    already dead in the older snapshot are subtracted — overlapping
    *    delete files never re-emit a row).
    *
    *  - EQUALITY-delete files new in the newer snapshot → carried rows
    *    matching the delete values null-safely with data sequence
    *    strictly below the delete's emit `delete`; rows hit by both a
    *    position and an equality delete emit ONCE (coordinate dedup).
    *
    * Appends
    * `_change_type` + `_snapshot_id`. Planning is a driver-side
    * metadata walk; row emission is distributed scans of only the files
    * each pair names. */
  def readChangelog(spark: SparkSession, base: String, fromSnapshotId: Long,
                    toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val ids = snapshotIds(base)
    require(ids.contains(fromSnapshotId),
      s"snapshot $fromSnapshotId not in $base (have $ids)")
    toSnapshotId.foreach(t => require(ids.contains(t),
      s"snapshot $t not in $base (have $ids)"))
    val upTo = toSnapshotId.map(t => ids.takeWhile(_ != t) :+ t).getOrElse(ids)
    val window = upTo.dropWhile(_ != fromSnapshotId)
    // operation per snapshot: "replace" snapshots (compaction) rewrite
    // files without changing table data — the changelog must emit
    // NOTHING for them, not a spurious delete+insert of every row
    val opById: Map[Long, String] = {
      val meta = readMeta(base)
      val ss = meta.get("snapshots")
      (0 until ss.size()).map(ss.get).map(s =>
        s.get("snapshot-id").asLong() ->
          Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
            .map(_.asText()).getOrElse("")).toMap
    }
    val head = snapshot(spark, base) // schema source
    val withMeta = StructType(head.schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_snapshot_id", LongType)))
    val parts: Seq[DataFrame] = window.sliding(2).flatMap {
      case Seq(prevId, curId) if opById.getOrElse(curId, "") == "replace" =>
        Seq.empty // physical rewrite, no logical change
      case Seq(prevId, curId) =>
        val prev = snapshot(spark, base, Some(prevId))
        val cur = snapshot(spark, base, Some(curId))
        def finish(df: DataFrame, t: String): DataFrame =
          df.withColumn("_change_type", lit(t))
            .withColumn("_snapshot_id", lit(curId))
        val prevPaths = prev.files.map(_.rawPath).toSet
        val curPaths = cur.files.map(_.rawPath).toSet
        val added = cur.files.filterNot(f => prevPaths.contains(f.rawPath))
        val removed = prev.files.filterNot(f => curPaths.contains(f.rawPath))
        val insertPart =
          if (added.isEmpty) Seq.empty
          else Seq(finish(assembleRead(spark, cur, added), "insert"))
        val removePart =
          if (removed.isEmpty) Seq.empty
          else Seq(finish(assembleRead(spark, prev, removed), "delete"))
        // rows of CARRIED data files newly masked by this snapshot's
        // delete files (position AND equality). Everything derives from
        // ONE scan of the carried rows that were live before (prev's
        // deletes applied — the masked set is exactly what stops being
        // live now); per-coordinate dedup keeps a row hit by both a
        // position and an equality delete from emitting twice.
        val prevDel = prev.deletes.map(_.path).toSet
        val newDel = cur.deletes.filterNot(d => prevDel.contains(d.path))
        val prevEq = prev.eqDeletes.map(_.path).toSet
        val newEq = cur.eqDeletes.filterNot(d => prevEq.contains(d.path))
        val carried = prev.files.filter(f => curPaths.contains(f.rawPath))
        val maskedPart =
          if ((newDel.isEmpty && newEq.isEmpty) || carried.isEmpty) Seq.empty
          else {
            import spark.implicits._
            val keyDf = carried.map(f =>
              (PathCodec.metadataPathKey(f.path), f.rawPath, f.seq))
              .toDF("__ice_file", "file_path", "__seq")
            val liveBefore = assembleRead(spark, prev, carried, keepCoords = true)
              .join(broadcast(keyDf), Seq("__ice_file"))
              .withColumn("pos", col("__ice_pos"))
            val posDead =
              if (newDel.isEmpty) None
              else {
                val newCoords = deleteCoordsDf(spark, newDel)
                // subtract coordinates already dead before this snapshot
                // (a v3 DV rewrite is a SUPERSET of the file's previous
                // deletes, so the anti join leaves exactly the fresh ones)
                val fresh =
                  if (prev.deletes.isEmpty) newCoords
                  else newCoords.join(deleteCoordsDf(spark, prev.deletes),
                    Seq("file_path", "pos"), "left_anti")
                Some(liveBefore.join(fresh, Seq("file_path", "pos"), "left_semi"))
              }
            // equality deletes: a carried row dies when its equality
            // values match null-safely AND its file's data sequence is
            // STRICTLY below the delete's (spec §Scan Planning)
            val eqDead = equalityDeleteSides(spark, head, newEq).map {
              case (seq, side, matches) =>
                liveBefore.filter(col("__seq") < lit(seq))
                  .join(side, matches, "left_semi")
            }
            val allDead = (posDead.toSeq ++ eqDead)
              .reduceOption(_ unionByName _).map(
                _.dropDuplicates("file_path", "pos") // one emission per row
                 .select(head.schema.fieldNames.map(col): _*))
            allDead.map(d => finish(d, "delete")).toSeq
          }
        insertPart ++ removePart ++ maskedPart
      case _ => Seq.empty
    }.toSeq
    parts.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withMeta))
  }

  /** Commit equality deletes as a new v2 snapshot: one parquet delete
    * file holding the DISTINCT values of `equalityCols` from `rows`
    * (parquet field ids stamped — the id-based resolution contract), one
    * delete manifest whose entry records content=2 + equality_ids, and a
    * manifest list carrying every current manifest forward — the layout
    * Flink CDC upsert writers produce. */
  def addEqualityDeletes(spark: SparkSession, base: String,
                         rows: DataFrame, equalityCols: Seq[String]): Long = {
    require(equalityCols.nonEmpty, "equality delete needs at least one column")
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    require(Set(2, 3).contains(prev.get("format-version").asInt()),
      "equality deletes need Iceberg format v2+ (v3 keeps them legal " +
      "alongside deletion vectors)")
    val snapshotId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString
    val mFile = stageEqDeleteManifest(spark, base, prev, rows, equalityCols,
      snapshotId, id)
    commitDeleteSnapshot(base, prev, mFile, snapshotId, id)
  }

  /** Stage ONE equality-delete file (distinct values of `equalityCols`
    * from `rows`, field-id-stamped) plus its content=2 manifest, ready
    * for a manifest-list commit — shared by `addEqualityDeletes` (own
    * snapshot) and `mergeUpsert` (combined with new data files). */
  private def stageEqDeleteManifest(spark: SparkSession, base: String,
                                    prev: JsonNode, rows: DataFrame,
                                    equalityCols: Seq[String],
                                    snapshotId: Long, id: String,
                                    // distinct-key count when the caller
                                    // already aggregated it (mergeUpsert's
                                    // one-pass source validation) — skips
                                    // this path's own sizing count()
                                    nKeysHint: Option[Long] = None): String = {
    val metaDir = metadataDir(base)
    // table schema name → field id (ids, not names, are the contract)
    val schemaNode0 = {
      val ss = prev.get("schemas")
      val want = prev.get("current-schema-id").asInt()
      (0 until ss.size()).map(ss.get)
        .find(_.get("schema-id").asInt() == want).get
    }
    val nameToId: Map[String, Int] = {
      val fs = schemaNode0.get("fields")
      (0 until fs.size()).map(fs.get)
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    }
    val ids = equalityCols.map(c => nameToId.getOrElse(c,
      throw new IllegalArgumentException(s"'$c' is not a table column")))

    // 1. the delete file: distinct equality values, field-id-stamped
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val proj = rows.select(equalityCols.zip(ids).map { case (c, fid) =>
        col(c).as(c, new MetadataBuilder()
          .putLong("parquet.field.id", fid.toLong).build())
      }: _*).dropDuplicates(equalityCols)
    // multi-part staging for large key sets: ~4M keys per delete file
    // (the deletePositionsClassified bound) — a CDC batch retiring tens
    // of millions of keys must not funnel through one writer/one file.
    // Small batches keep the single-file shape (parts = 1).
    val nKeys = nKeysHint.getOrElse(proj.count())
    val parts = math.max(1L, (nKeys + 4000000L - 1L) / 4000000L).toInt
    val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
    val delFiles = StagedFiles.publish(TableIO.join(base, s".stage_$id"))(
      proj.repartition(parts, equalityCols.map(col): _*).write.parquet(_))(
      moveTo(dataDir, s"eqdelete-$id"))
    require(delFiles.nonEmpty, "no delete part file staged")

    // 2. the delete manifest (content=2 file entries with equality_ids)
    val entrySchema = entrySchemaFor(Seq.empty)
    val mFile = TableIO.join(metaDir, s"manifest-eqdel-$id.avro")
    val recs = delFiles.map { delFile =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", snapshotId)
      val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
      dfr.put("content", 2) // 2 = equality deletes
      dfr.put("file_path", PathCodec.absNorm(delFile))
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", footerRowCount(spark, delFile))
      dfr.put("file_size_in_bytes", io.length(delFile))
      dfr.put("equality_ids", java.util.Arrays.asList(ids.map(Int.box): _*))
      rec.put("data_file", dfr)
      rec
    }
    writeAvro(mFile, entrySchema, recs)
    mFile
  }

  /** Stage `df` as data files (one set per identity-partition tuple,
    * the writer's fan-out shape) plus ONE content=0 manifest with
    * per-file record counts and bounds — ready for a manifest-list
    * commit. Shared by `mergeUpsert`; `commitSnapshotSpec` keeps its
    * own staging because it also derives transformed partition spec
    * columns. */
  private def stageDataManifest(df: DataFrame, base: String,
                                partCols: Seq[String], snapshotId: Long,
                                idTag: String,
                                idOf: String => Long,
                                specFieldIds: Seq[Int] = Seq.empty): String = {
    val spark = df.sparkSession
    val metaDir = metadataDir(base)
    val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
    val dfIds = withFieldIds(df, idOf)
    import org.apache.spark.sql.functions.col
    val writeOrderId: Option[Int] = currentWriteOrderId(base, dfIds.columns.toSeq)
    val stagedPaths: Seq[String] =
      if (partCols.isEmpty)
        StagedFiles.publish(TableIO.join(base, s".stage_$idTag"))(
          distributeForWrite(dfIds, base, Seq.empty)
            .write.mode("overwrite").parquet(_))(moveTo(dataDir, idTag))
      else stagePartitioned(dfIds, base, dataDir,
        partCols.map(c => (c, col(c))), idTag)
    val partTypes: Seq[(String, DataType)] =
      partCols.map(c => c -> df.schema(c).dataType)
    val entrySchema = entrySchemaFor(partTypes, specFieldIds)
    val boundsByFile =
      collectBounds(spark, df.schema, stagedPaths, idOf,
        partCols.map(c => (c, col(c))))
    val dataFiles: Seq[(String, Map[String, Any])] = stagedPaths.map { f =>
      f -> boundsByFile.get(f)
        .map(_._4).getOrElse(Map.empty[String, Any])
    }
    val entries = dataFiles.map { case (f, pv) =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", snapshotId)
      val dfSchema = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 0)
      dfr.put("file_path", PathCodec.absNorm(f))
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", boundsByFile.get(f)
        .map(_._1).getOrElse(0L))
      dfr.put("file_size_in_bytes", io.length(f))
      writeOrderId.foreach(v => dfr.put("sort_order_id", Int.box(v)))
      boundsByFile.get(f).foreach { case (_, lo, hi, _) =>
        dfr.put("lower_bounds", avroBounds(dfSchema, "lower_bounds", lo))
        dfr.put("upper_bounds", avroBounds(dfSchema, "upper_bounds", hi))
      }
      if (partCols.nonEmpty) {
        val pr = new GenericData.Record(dfSchema.getField("partition").schema())
        pv.foreach { case (k, v) => pr.put(k, avroPartitionValue(v)) }
        dfr.put("partition", pr)
      }
      rec.put("data_file", dfr)
      rec
    }
    val mFile = TableIO.join(metaDir, s"manifest-$idTag.avro")
    writeAvro(mFile, entrySchema, entries)
    mFile
  }

  /** Keyed MERGE (upsert) in ONE atomic snapshot — the Flink CDC upsert
    * layout the spec's sequence-number rules exist for: an
    * equality-delete file on `keys` retires every existing row whose
    * key appears in `updates` (the delete applies STRICTLY below its
    * sequence), and the update rows commit as new data files AT that
    * same sequence, which the strict gate leaves alive. Readers see the
    * whole upsert or none of it; no existing data file is rewritten
    * (merge-on-read — fold accumulated deletes with
    * `rewriteDataFiles`). Matched keys are replaced, unmatched keys
    * insert; duplicate source keys refuse (SQL MERGE contract).
    *
    * 100 TB shape: the delete side is one distinct projection of the
    * update keys; nothing scans existing data at merge time — the cost
    * moves to reads (each scan anti-joins the delete) until the next
    * compaction, exactly Iceberg's own upsert trade-off. */
  def mergeUpsert(spark: SparkSession, base: String, updates0: DataFrame,
                  keys: Seq[String]): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    require(Set(2, 3).contains(prev.get("format-version").asInt()),
      "equality-delete merges need Iceberg format v2+")
    val snap = snapshot(spark, base)
    require(snap.specFields.forall(_.transform == "identity"),
      "mergeUpsert on a transformed partition spec is not implemented")
    keys.foreach(k => require(snap.schema.fieldNames.contains(k),
      s"merge key '$k' is not a table column"))
    require(updates0.columns.toSet == snap.schema.fieldNames.toSet,
      s"merge source must carry exactly the table columns " +
      s"(${snap.schema.fieldNames.mkString(",")}), got " +
      s"(${updates0.columns.mkString(",")})")
    import org.apache.spark.sql.functions.{col, count, lit, max}
    // pinned: the source frame feeds validation, the equality-delete
    // staging AND the data-file staging — unmaterialized it would
    // evaluate (joins and all) once per consumer
    val updates = updates0.select(snap.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*).persist()
    try {
    // ONE validation pass: per-key counts fold to (max multiplicity,
    // any-null-key, distinct-key total) — one bounded row instead of a
    // duplicate-probe job plus a null-probe job, and the key total
    // feeds the delete staging's file sizing (no third count there)
    val vrow = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        max(keys.map(k => col(k).isNull).reduce(_ || _).cast("int")).as("__null"))
      .agg(max(col("__n")).as("__maxn"),
        max(col("__null")).as("__anynull"),
        count(lit(1)).as("__nkeys"))
      .head()
    require(vrow.isNullAt(0) || vrow.getLong(0) <= 1L,
      s"merge source has duplicate (${keys.mkString(",")}) values — SQL " +
      "MERGE forbids multiple source rows per target key")
    // NULL merge keys refuse: SQL MERGE's ON equality never matches a
    // NULL, but the equality-delete FILE matches null-safely (spec) —
    // writing a null key would silently delete the target's null-keyed
    // rows instead of inserting alongside them
    require(vrow.isNullAt(1) || vrow.getInt(1) == 0,
      s"merge source has NULL (${keys.mkString(",")}) values — SQL MERGE " +
      "equality never matches NULL, but an equality delete would (it " +
      "matches null-safely); de-null or pre-filter the source")
    val nKeys = vrow.getLong(2)
    val snapshotId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString
    val delM = stageEqDeleteManifest(spark, base, prev,
      updates.select(keys.map(col): _*), keys, snapshotId, id,
      nKeysHint = Some(nKeys))
    val dataM = stageDataManifest(updates, base, snap.partitionColumns,
      snapshotId, id, schemaIdOf(snap.schema), snap.specFields.map(_.fieldId))
    // A lost race REBASES and stays SERIALIZABLE-equivalent by the
    // upsert's own keyed semantics: the rebased equality delete's
    // higher sequence retires ANY older row with an update key —
    // including rows a concurrent winner appended or merged — and the
    // update row replaces it, exactly the serial append-then-merge
    // outcome. No file is rewritten, so there is no liveness conflict
    // to check beyond the generic schema/spec guard.
    def refsAt(sid: Long) = Seq(
      ManifestRef(delM, 1, sid, sid, snap.defaultSpecId),
      ManifestRef(dataM, 0, sid, sid, snap.defaultSpecId))
    commitManifestListSnapshot(base, prev,
      currentManifests(base, prev) ++ refsAt(snapshotId),
      snapshotId, id, "overwrite",
      rebase = Some(SnapshotRebase(
        check = _ => (),
        buildRefs = (head, newId) =>
          currentManifests(base, head) ++ refsAt(newId))))
    } finally updates.unpersist(blocking = false)
  }

  /** Any nondeterministic expression in the ANALYZED plan? (Unresolved
    * functions claim determinism — only the resolved tree answers.) */
  private def hasNondeterministic(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(p =>
      p.expressions.exists(e => e.resolved && !e.deterministic))

  /** Predicate-driven UPDATE, copy-on-write scoped to touched files —
    * the Iceberg analogue of `DeltaDml.updateWhere`: one merge-on-read
    * census finds which data files hold ≥1 matching LIVE row; only
    * those are rewritten (matching rows get `set` as a SIMULTANEOUS
    * assignment — every RHS sees the original row; survivors carry
    * verbatim, the file's deletes fold into the rewrite); every other
    * file survives by name with its data sequence number, so existing
    * delete files keep gating them exactly. The rewritten files commit
    * at the new snapshot's sequence — above every existing delete,
    * which is correct because those deletes were already folded in.
    * Partition columns cannot be updated (that moves rows across
    * partitions — use a merge). Nondeterministic predicates/SET refuse
    * (they evaluate in more than one job). Returns the new snapshot
    * id, or the current one when nothing matched. */
  def updateWhere(spark: SparkSession, base: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    updateMarked(spark, base, scopedFiles(_, predicate),
      _.withColumn("__upd", coalesce(predicate, lit(false))), set)
  }

  /** UPDATE whose row selection is MEMBERSHIP of `key` in `sourceKeys`
    * — the lowering for `UPDATE t SET ... WHERE k [NOT] IN (SELECT
    * ...)`, subquery as a distributed join side (never a collected
    * driver list). Same contracts as the graft-log/Delta primitives:
    * the caller refuses a NULL-producing NOT IN subquery; NULL target
    * keys compare UNKNOWN and are never updated; the IN form scopes
    * the census by the subquery's [min,max] key range through the
    * same manifest bounds the scalar path uses. */
  def updateInSource(spark: SparkSession, base: String,
                     sourceKeys: DataFrame, key: String,
                     set: Map[String, org.apache.spark.sql.Column],
                     negated: Boolean = false,
                     extra: Option[org.apache.spark.sql.Column] = None,
                     // NOT EXISTS semantics: a NULL target key has no
                     // match, so NOT EXISTS is TRUE and the row updates
                     // (NOT IN leaves it — UNKNOWN); flip per statement
                     includeNullKeys: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min}
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
      val scope = (snap: IcebergSnapshot) =>
        if (negated) extra.map(scopedFiles(snap, _)).getOrElse(snap.files)
        else {
          val mm = flag.agg(min(col(key)), max(col(key))).head()
          if (mm.isNullAt(0)) Seq.empty // empty/all-NULL subquery
          else {
            // synthetic range predicate → the existing manifest-bounds
            // pruning, composed with any analyzable extra conjunct
            val ranged = col(key) >= lit(mm.get(0)) &&
              col(key) <= lit(mm.get(1))
            scopedFiles(snap, extra.map(ranged && _).getOrElse(ranged))
          }
        }
      updateMarked(spark, base, scope, mark, set)
    } finally flag.unpersist()
  }

  /** Shared UPDATE body: `scope` bounds the census to candidate data
    * files (manifest bounds / key ranges); `mark` appends a boolean
    * `__upd` row selector to any scan of the table (it runs on BOTH
    * the census and the rewrite scan — must be deterministic). */
  private def updateMarked(spark: SparkSession, base: String,
                           scope: IcebergSnapshot => Seq[DataFileEntry],
                           mark: DataFrame => DataFrame,
                           set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    val snap = snapshot(spark, base)
    require(snap.specFields.forall(_.transform == "identity"),
      "updateWhere on a transformed partition spec is not implemented")
    set.keys.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"SET column '$c' is not in the table schema")
      require(!snap.partitionColumns.contains(c),
        s"SET column '$c' is a partition column — updating it moves rows " +
        "across partitions (use a merge/rewrite instead)")
    }
    val setTyped: Seq[(String, org.apache.spark.sql.Column)] =
      set.toSeq.map { case (c, e) => c -> e.cast(snap.schema(c).dataType) }
    // census scoped by manifest bounds: provably-unmatchable files
    // never open (conservative, same contract as readRange's skipping)
    val scoped = scope(snap)
    if (scoped.isEmpty) return prev.get("current-snapshot-id").asLong()
    val scan = mark(assembleRead(spark, snap, scoped,
        keepCoords = true))
    require(!hasNondeterministic(scan),
      "updateWhere requires a deterministic predicate (it evaluates in " +
      "more than one job) — precompute random values into a column first")
    require(!hasNondeterministic(
        scan.select(setTyped.map(_._2) :+ col("__upd"): _*)),
      "updateWhere requires deterministic SET expressions (they evaluate " +
      "in more than one job) — precompute random values first")
    // census: which files hold a matching LIVE row — bounded collect
    val touchedKeys = scan.filter(col("__upd"))
      .select(col("__ice_file")).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedKeys.isEmpty) return prev.get("current-snapshot-id").asLong()
    val touched = snap.files.filter(f =>
      touchedKeys.contains(PathCodec.metadataPathKey(f.path)))
    val survivors = snap.files.filterNot(f =>
      touchedKeys.contains(PathCodec.metadataPathKey(f.path)))
    val snapshotId = nextSnapshotId(prev)
    // rewrite ONLY the touched files: survivors verbatim, matches
    // updated, their deletes folded (assembleRead applies them).
    // v3 row lineage rides along MATERIALIZED (spec: copy-on-write must
    // preserve ids): every rewritten row carries its resolved _row_id,
    // and _last_updated_sequence_number moves to THIS commit's sequence
    // for updated rows while survivors keep theirs. (On an OCC rebase
    // the staged files republish, so the materialized update sequence
    // names the first ATTEMPT — a lower bound of the commit's, the
    // snapshot-isolation approximation this path already accepts.)
    val lineageOn = snap.formatVersion >= 3
    val touchedScan0 =
      if (!lineageOn) mark(assembleRead(spark, snap, touched))
      else attachLineage(touched,
        mark(assembleRead(spark, snap, touched, keepCoords = true,
          extraCols = lineageExtras)))
    val withTemps = setTyped.foldLeft(touchedScan0) { case (d, (c, e)) =>
      d.withColumn(s"__set_$c", e) }
    val keepCols = snap.schema.fieldNames.toSeq ++
      (if (lineageOn) Seq(RowIdCol, LastUpdatedSeqCol) else Seq.empty)
    val updated0 = setTyped.foldLeft(withTemps) { case (d, (c, _)) =>
      d.withColumn(c, when(col("__upd"), col(s"__set_$c")).otherwise(col(c)))
    }
    val updated =
      (if (!lineageOn) updated0
       else updated0 // ids already resolved by attachLineage; updated
         // rows move to THIS commit's sequence, survivors keep theirs
         .withColumn(LastUpdatedSeqCol, when(col("__upd"),
             org.apache.spark.sql.functions.lit(snapshotId))
           .otherwise(col(LastUpdatedSeqCol))))
        .select(keepCols.map(col): _*)
    val id = UUID.randomUUID().toString
    val dataM = stageDataManifest(updated, base, snap.partitionColumns,
      snapshotId, id, lineageIdOf(schemaIdOf(snap.schema)),
      snap.specFields.map(_.fieldId))
    val touchedRaw = touched.map(_.rawPath).toSet
    val carried = carryManifestsWithout(spark, base, prev,
      touchedRaw, survivors)
    // Losing the version race rebases at SNAPSHOT isolation (Iceberg's
    // write.update.isolation-level=snapshot): a concurrent disjoint
    // append/merge commutes — its rows were not re-evaluated against
    // this predicate, which snapshot isolation permits — while true
    // conflicts refuse: the rewritten inputs vanished (a winner
    // rewrote/removed them), a newer equality delete the replacement
    // files would outrank, or a newer position delete aimed at a
    // rewritten file whose positions would be lost.
    val prevSeq = prev.get("last-sequence-number").asLong()
    val rebase = SnapshotRebase(
      check = head => {
        val headSnap = snapshot(spark, base,
          Some(head.get("current-snapshot-id").asLong()))
        if (!touchedRaw.subsetOf(headSnap.files.map(_.rawPath).toSet))
          throw new java.util.ConcurrentModificationException(
            s"updateWhere on $base lost the race to a commit that " +
            "removed or rewrote files this update also rewrites — " +
            "conflicting writes, refusing")
        if (headSnap.eqDeletes.exists(_.seq > prevSeq))
          throw new java.util.ConcurrentModificationException(
            s"updateWhere on $base raced a concurrent equality delete — " +
            "the rewritten files' higher sequence would outrank it and " +
            "resurrect rows, refusing")
        headSnap.deletes.filter(_.seq > prevSeq).foreach { d =>
          if (deleteFileRefs(spark, d).exists(touchedRaw.contains))
            throw new java.util.ConcurrentModificationException(
              s"updateWhere on $base raced a row-level delete referencing " +
              "a rewritten file — its positions would be lost, refusing")
        }
      },
      buildRefs = (head, newId) => {
        val headSnap = snapshot(spark, base,
          Some(head.get("current-snapshot-id").asLong()))
        val headSurvivors =
          headSnap.files.filterNot(f => touchedRaw.contains(f.rawPath))
        carryManifestsWithout(spark, base, head, touchedRaw,
          headSurvivors) :+
          ManifestRef(dataM, 0, newId, newId, snap.defaultSpecId)
      })
    commitManifestListSnapshot(base, prev,
      carried :+ ManifestRef(dataM, 0, snapshotId, snapshotId,
        snap.defaultSpecId),
      snapshotId, id, "overwrite", rebase = Some(rebase))
  }

  /** Latest streaming batch id recorded for `appId` in snapshot
    * summaries (−1 if none) — the read side of the exactly-once sink
    * contract. Metadata parse only. */
  def lastBatchId(base: String, appId: String): Long = {
    val meta = readMeta(base)
    val snaps = meta.get("snapshots")
    (0 until snaps.size()).map(snaps.get).flatMap { s =>
      Option(s.get("summary")).flatMap { sm =>
        if (Option(sm.get("graft.app-id")).exists(_.asText() == appId))
          Option(sm.get("graft.batch-id")).map(_.asLong())
        else None
      }
    }.foldLeft(-1L)(math.max)
  }

  /** Transactionally-idempotent append — the Iceberg analogue of the
    * Delta streaming sink contract: the commit's snapshot summary
    * records (graft.app-id, graft.batch-id); if the table has already
    * recorded this batch (or newer) for `appId`, the append is a no-op
    * and nothing is staged. A micro-batch replayed after a crash
    * between the table commit and the streaming offset commit is thus
    * recognized and skipped. Creates the table on the first batch.
    * Returns whether the append was applied.
    *
    * Retention interplay: the gate lives in SNAPSHOT HISTORY, so
    * `expireSnapshots` forgets batch ids recorded only on expired
    * snapshots — retain at least the window a restarted stream could
    * replay (the same property Iceberg's own summary-based streaming
    * writers have; Delta's txn identifiers survive checkpoints
    * instead). */
  def appendIdempotent(df: DataFrame, base: String, appId: String,
                       batchId: Long,
                       partitionBy: Seq[String] = Seq.empty,
                       formatVersion: Int = 2): Boolean = {
    val exists = io.exists(TableIO.join(metadataDir(base), "version-hint.text"))
    if (exists && lastBatchId(base, appId) >= batchId)
      return false // replayed batch — skip BEFORE staging any data
    // formatVersion only shapes CREATION (first batch); appends onto an
    // existing table inherit its version — on v3 each batch claims its
    // own `_row_id` space via first_row_id inheritance (spec v3 §Row
    // Lineage), so lineage ids stay unique across batches.
    commitSnapshotSpec(df, base, if (exists) "append" else "overwrite",
      appendSpec(df.sparkSession, base, partitionBy), summary = Map(
        "graft.app-id" -> appId, "graft.batch-id" -> batchId.toString),
      createFormatVersion = formatVersion)
    true
  }

  /** The effective partition spec for an APPEND into `base`: inherit
    * the table's spec (transforms included) when the caller gave no
    * partitionBy; validate a caller-provided identity partitionBy
    * against it otherwise. Every commit rebuilds `partition-specs`
    * from the call's spec, so an append defaulting to empty (the
    * streaming-sink shape) would otherwise silently rewrite a
    * partitioned table's spec to unpartitioned — degrading pruning,
    * partitionsTable and the identity-spec checks downstream DML
    * relies on. Mirrors DeltaInterop.appendIdempotent's contract.
    * A not-yet-existing table keeps the caller's columns as identity. */
  private def appendSpec(spark: SparkSession, base: String,
                         partitionBy: Seq[String]): Seq[(String, IceTransform)] = {
    val asIdentity: Seq[(String, IceTransform)] =
      partitionBy.map(c => c -> (IceTransform.Identity: IceTransform))
    if (!io.exists(TableIO.join(metadataDir(base), "version-hint.text")))
      return asIdentity
    val spec = tableSpec(spark, base)
    if (partitionBy.nonEmpty) {
      require(asIdentity == spec,
        s"append partitionBy (${partitionBy.mkString(",")}) does not " +
        s"match the table's partition spec (" +
        s"${spec.map { case (c, t) => s"$c=${t.spec}" }.mkString(", ")})")
    }
    spec
  }

  /** The table's default partition spec as (source column → transform)
    * pairs — the argument shape the transformed writers take, so a
    * caller can rewrite a table's content while preserving its spec
    * (`overwriteTransformed(df, base, tableSpec(spark, base))`). */
  def tableSpec(spark: SparkSession,
                base: String): Seq[(String, IceTransform)] = {
    val snap = snapshot(spark, base)
    snap.specFields.map { f =>
      val src = snap.fieldNamesById.getOrElse(f.sourceId, f.name)
      src -> IceTransform.parse(f.transform)
    }
  }

  /** Shared commit tail for snapshots built from an explicit manifest
    * list (delete commits, compaction replaces, merge commits): write
    * the list, append the snapshot node (operation + optional summary
    * properties, e.g. a streaming sink's batch id), and publish the
    * next metadata version atomically. */
  /** Loser-side reconciliation for a non-append snapshot commit — the
    * contract Iceberg's SnapshotProducer implements for replace/delete
    * snapshots: on a lost metadata-version race, `check` inspects the
    * winner's head for TRUE conflicts (files this commit rewrites or
    * references no longer live, new deletes that would be lost) and
    * throws to refuse; `buildRefs` then rebuilds the manifest list
    * against the new head at a fresh snapshot id. The staged manifest
    * avro is REUSED verbatim across attempts — its entries carry no
    * explicit sequence_number, so they inherit the rebased list's
    * (spec §Sequence Number Inheritance exists exactly for this). */
  private final case class SnapshotRebase(
      check: JsonNode => Unit,
      buildRefs: (JsonNode, Long) => Seq[ManifestRef])

  private def commitManifestListSnapshot(base: String, prev: JsonNode,
                                         refs: Seq[ManifestRef],
                                         snapshotId: Long, id: String,
                                         operation: String,
                                         summary: Map[String, String] = Map.empty,
                                         rebase: Option[SnapshotRebase] = None): Long = {
    val metaDir = metadataDir(base)
    var curPrev = prev
    var curId = snapshotId
    var curRefs = refs
    TableIO.retryOnConflict(TableIO.RebaseRetries, onLoss = { e =>
      val rb = rebase.getOrElse(throw e)
      val head = readMeta(base)
      // the staged files/manifests were shaped against prev's
      // definition: a winner that changed schema or default spec
      // invalidates them regardless of file overlap
      if (icebergSchemaToSparkJson(prev) != icebergSchemaToSparkJson(head) ||
          defaultSpecOf(prev) != defaultSpecOf(head))
        throw new java.util.ConcurrentModificationException(
          s"$operation on $base lost the commit race to a concurrent " +
          "schema or partition-spec change — refusing to rebase", e)
      rb.check(head) // throws on true conflicts
      curPrev = head
      curId = nextSnapshotId(head)
      curRefs = rb.buildRefs(head, curId)
    }) { _ =>
      val mlFile = TableIO.join(metaDir, s"snap-$curId-$id.avro")
      // spec v3 §Row Lineage: NEW data manifests (no first_row_id yet)
      // take ids from the head's next-row-id, in list order; carried
      // manifests keep the ids of their own commit. Recomputed per
      // publish attempt — a rebase re-bases the ids on the winner.
      val fvHead = curPrev.get("format-version").asInt()
      var nextRid =
        if (fvHead < 3) -1L
        else Option(curPrev.get("next-row-id")).map(_.asLong()).getOrElse(0L)
      val firstRidOfSnapshot = nextRid
      val assignedRefs =
        if (fvHead < 3) curRefs
        else curRefs.map { m =>
          // only THIS commit's new manifests take ids — a CARRIED
          // pre-upgrade manifest stays unassigned (its rows read NULL
          // until a rewrite materializes ids, the same lazy contract
          // the append path and upgradeFormatVersion document; eagerly
          // assigning here would make _row_id depend on which DML ran
          // first). Old-schema manifests also cannot carry the field.
          if (m.content != 0 || m.firstRowId.isDefined ||
              m.addedSnapshotId != curId) m
          else {
            val n = unassignedRowsOf(m.file)
            val r = m.copy(firstRowId = Some(nextRid)); nextRid += n; r
          }
        }
      writeManifestList(mlFile, assignedRefs)
      val root = curPrev.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val committedAtMs = clock() // one instant per commit
      root.put("last-sequence-number", curId)
      root.put("current-snapshot-id", curId)
      root.put("last-updated-ms", committedAtMs)
      if (fvHead >= 3) root.put("next-row-id", nextRid)
      val snapNode = mapper.createObjectNode()
      snapNode.put("snapshot-id", curId)
      if (fvHead >= 3) snapNode.put("first-row-id", firstRidOfSnapshot)
      // ancestry link for fastForward's publish check and cherryPick's
      // added-files derivation
      Option(curPrev.get("current-snapshot-id")).map(_.asLong())
        .filter(_ > 0).foreach(p => snapNode.put("parent-snapshot-id", p))
      snapNode.put("sequence-number", curId)
      snapNode.put("timestamp-ms", committedAtMs)
      snapNode.put("manifest-list", PathCodec.absNorm(mlFile))
      val sm = snapNode.putObject("summary")
      sm.put("operation", operation)
      summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
      snapNode.put("schema-id", root.get("current-schema-id").asInt())
      root.withArray("snapshots").add(snapNode)
      commitMetadataVersion(base, root)
      curId
    }
  }

  /** Tail of a delete commit: every current manifest carried + the new
    * delete manifest. `referencedRaw` (position deletes only) names the
    * data files the delete rows target — with it, a lost version race
    * REBASES onto the winner's head as long as every referenced file is
    * still live there (a winner that rewrote one invalidates the
    * recorded positions → refuse). Equality deletes pass None and
    * refuse on any race: rebasing would raise their sequence number
    * past the winner's files and delete rows it never saw. */
  private def commitDeleteSnapshot(base: String, prev: JsonNode,
                                   mFile: String, snapshotId: Long,
                                   id: String,
                                   referencedRaw: Option[Set[String]] = None): Long = {
    def deleteRef(newId: Long) = ManifestRef(mFile, 1, newId, newId,
      Option(prev.get("default-spec-id")).map(_.asInt()).getOrElse(0))
    val rebase = referencedRaw.map(refs => SnapshotRebase(
      check = head => {
        val live = snapshotLiveRaw(base, head)
        if (!refs.subsetOf(live))
          throw new java.util.ConcurrentModificationException(
            s"position delete on $base lost the race to a commit that " +
            "rewrote a referenced data file — the recorded positions " +
            "no longer apply, refusing")
      },
      buildRefs = (head, newId) =>
        currentManifests(base, head) :+ deleteRef(newId)))
    commitManifestListSnapshot(base, prev,
      currentManifests(base, prev) :+ deleteRef(snapshotId),
      snapshotId, id, "delete", rebase = rebase)
  }

  /** Raw (manifest-recorded) paths of every live data file at `head`'s
    * current snapshot — driver-side manifest walk, metadata scale. */
  private def snapshotLiveRaw(base: String, head: JsonNode): Set[String] = {
    val raws = mutable.Set.empty[String]
    manifestsOfSnapshot(base, head, head.get("current-snapshot-id").asLong())
      .filter(_.content == 0).foreach { m =>
        readAvro(m.file).foreach { e =>
          if (e.get("status").toString.toInt != 2)
            raws += e.get("data_file").asInstanceOf[GenericRecord]
              .get("file_path").toString
        }
      }
    raws.toSet
  }

  /** Append; `partitionBy` must repeat the table's partition spec (the
    * fixture-writer contract — a real writer reads it from metadata). */
  /** Delete files under the table location that NO metadata can reach —
    * Iceberg's `remove_orphan_files` maintenance procedure. Orphans
    * accrete from failed/competing commits: a writer stages its data
    * files and manifests first, and if the atomic metadata commit then
    * loses (or the process dies), the staged files stay on disk forever,
    * invisible to every reader but billed and walked by every file
    * listing. `expireSnapshots` cannot collect them — it only walks
    * what metadata DOES reach.
    *
    * Reachability is conservative: every path mentioned by ANY
    * `*.metadata.json` still on disk (all snapshots, their manifest
    * lists, manifests, data/delete files — deleted-status entries
    * included) plus the metadata files and version-hint themselves.
    * Files modified at/after `olderThanMs` are kept regardless: a
    * concurrent writer's staged-but-not-yet-committed files look
    * exactly like orphans until its commit lands (Iceberg's own
    * default-3-day grace exists for the same race). The cutoff
    * defaults to the injectable commit clock minus 3 days so fixtures
    * stay deterministic. Driver-side metadata walk + one file listing —
    * cost proportional to file COUNT, never data bytes. Returns
    * deleted paths (table-relative where possible). */
  /** `dryRun`: list the orphans, delete nothing. */
  /** GC roots of one metadata version: (path, isManifestList) — the
    * manifest-list per snapshot (decoded further) plus any STATISTICS
    * files (pinned as-is: they are metadata-referenced but never
    * manifest-reachable, so the reachability diff would reap them).
    * Object-level (NOT a local def) so the GC fan-out's executor
    * closure stays statically linked instead of capturing the module. */
  private def metadataGcRefsOf(base: String, mjName: String)
  : Seq[(String, Boolean)] = {
    val meta = mapper.readTree(
      TableIO().readString(TableIO.join(metadataDir(base), mjName)))
    val mls = Option(meta.get("snapshots"))
      .map(s => (0 until s.size()).map(s.get)
        .map(x => (PathCodec.absNorm(
          resolvePath(base, x.get("manifest-list").asText())), true)).toSeq)
      .getOrElse(Seq.empty)
    val stats = Seq("statistics", "partition-statistics").flatMap(key =>
      Option(meta.get(key)).map(s => (0 until s.size()).map(s.get)
        .map(x => (PathCodec.absNorm(
          x.get("statistics-path").asText()), false)).toSeq)
        .getOrElse(Seq.empty))
    mls ++ stats
  }

  def removeOrphanFiles(spark: SparkSession, base: String,
                        olderThanMs: Option[Long] = None,
                        dryRun: Boolean = false): Seq[String] = {
    val metaDir = metadataDir(base)
    require(io.exists(TableIO.join(metaDir, "version-hint.text")),
      s"not an Iceberg table (no version hint): $base")
    val cutoff = olderThanMs.getOrElse(clock() - 3L * 24 * 3600 * 1000)
    val metaJsons = io.list(metaDir).filter(_.endsWith(".metadata.json"))
    val root = PathCodec.absNorm(base)
    val b = base
    val threshold = GcListing.fanoutThreshold(spark)
    // manifest-list paths across EVERY metadata version (a retained
    // older version can still reach files the current one dropped);
    // the per-version json parse fans when versions number in the
    // thousands. The collected list is metadata-scale (one path per
    // snapshot × version, deduped), never file-scale.
    val gcRefs: Seq[(String, Boolean)] =
      if (metaJsons.size < threshold)
        metaJsons.flatMap(metadataGcRefsOf(b, _)).distinct
      else {
        import spark.implicits._
        spark.createDataset(metaJsons)
          .repartition(math.max(1, math.min(metaJsons.size,
            spark.sparkContext.defaultParallelism)))
          .flatMap(metadataGcRefsOf(b, _)).distinct().collect().toSeq
      }
    val mlPaths: Seq[String] = gcRefs.collect { case (p, true) => p }
    val statsPaths: Seq[String] = gcRefs.collect { case (p, false) => p }
    // a Delta MIRROR of this table (the XTable shape) keeps its log
    // under `_delta_log/` at the same base — Iceberg metadata never
    // reaches it, so the reachability diff would reap the mirror's
    // commits as orphans; the walk must never enter it
    val skipDirs = Set(PathCodec.absNorm(TableIO.join(root, "_delta_log")))
    val pinned = Seq(
      PathCodec.absNorm(TableIO.join(metaDir, "version-hint.text"))) ++
      metaJsons.map(n => PathCodec.absNorm(TableIO.join(metaDir, n))) ++
      statsPaths
    // manifest count is the file-scale proxy (Iceberg sizes manifests
    // to ~8 MB): a table can hold ONE snapshot over thousands of
    // manifests, so the mlPaths count alone must not pick the driver
    // path. When metadata versions and snapshots are few, framing the
    // manifest lists on the driver is cheap and yields the real count.
    val manifestRefs: Option[Seq[String]] =
      if (metaJsons.size >= threshold || mlPaths.size >= threshold) None
      else {
        val refs = mlPaths.flatMap { ml =>
          if (!io.exists(ml)) Seq.empty
          else readAvro(ml).map(m => PathCodec.absNorm(
            resolvePath(base, m.get("manifest_path").toString)))
        }.distinct
        if (refs.size < threshold) Some(refs) else None
      }
    if (manifestRefs.isDefined) {
      // small-table fast path: driver crawl + driver walk
      val reachable = scala.collection.mutable.Set[String]()
      reachable ++= pinned
      reachable ++= mlPaths
      manifestRefs.get.foreach { mf =>
        reachable += mf
        if (io.exists(mf)) readAvro(mf).foreach { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          reachable += PathCodec.absNorm(
            resolvePath(base, df.get("file_path").toString))
        }
      }
      def walkFiles(d: String): Vector[String] =
        io.list(d).toVector.flatMap { name =>
          val f = TableIO.join(d, name)
          if (io.isDirectory(f)) {
            if (skipDirs.contains(PathCodec.absNorm(f))) Vector.empty
            else walkFiles(f)
          } else Vector(f)
        }
      walkFiles(root)
        .filter(f => !reachable.contains(PathCodec.absNorm(f)))
        .filter(f => io.lastModified(f) < cutoff)
        .sorted
        .flatMap { f =>
          val p = PathCodec.absNorm(f)
          if (dryRun || io.delete(f))
            Some(if (p.startsWith(root))
              p.stripPrefix(root).stripPrefix("/") else p)
          else None
        }
    } else {
      // at-scale path: the reachable set is built level by level as
      // Spark jobs (manifest lists → manifests → entries — the same
      // executor-side decode the planning fan-out uses) and the orphan
      // decision is a distributed anti-join against the distributed
      // listing. The driver never holds a per-file string set: at
      // 10⁶–10⁷ files and thousands of metadata versions that set is
      // hundreds of MB and a serial crawl, the last GC scale-killer.
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      val reachable = reachableFromManifestLists(spark, b, mlPaths)
        .union(spark.createDataset(pinned)).toDF("p")
      val cand = GcListing.listFiles(spark, root, skipDirs,
        skipHidden = false).toDF("p", "fm")
      val dead = cand.join(reachable, Seq("p"), "left_anti")
        .where(col("fm") < lit(cutoff))
        .select(col("p")).as[String]
      GcListing.reap(spark, root, dead, dryRun)
    }
  }

  /** Every path a set of manifest lists can reach, as a DATASET built
    * level by level in Spark jobs (manifest lists → manifests →
    * entries, deleted-status entries conservatively included) — the
    * distributed reachability stage shared by remove_orphan_files and
    * expire_snapshots at scale. */
  private def reachableFromManifestLists(
      spark: SparkSession, base: String,
      mlPaths: Seq[String]): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val b = base
    val mls = spark.createDataset(mlPaths)
      .repartition(math.max(1, math.min(math.max(mlPaths.size, 1),
        spark.sparkContext.defaultParallelism)))
    val manifests = mls.flatMap { ml =>
      val eio = TableIO()
      if (!eio.exists(ml)) Seq.empty[String]
      else readAvro(ml).map(m => PathCodec.absNorm(
        resolvePath(b, m.get("manifest_path").toString)))
    }.distinct()
    val entries = manifests.flatMap { mf =>
      val eio = TableIO()
      if (!eio.exists(mf)) Seq.empty[String]
      else readAvro(mf).map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        PathCodec.absNorm(resolvePath(b, df.get("file_path").toString))
      }
    }
    mls.union(manifests).union(entries)
  }

  // ---- table statistics: theta-sketch NDV (spec §Table Statistics) --

  /** Value → the bytes the theta sketch hashes: the spec's single-value
    * binary serialization where defined (numerics, date/timestamp,
    * decimals — so an external engine hashing per the spec agrees),
    * UTF-8 for strings (uncapped: the 64-char bounds truncation must
    * not alias distinct values). None (skip) for NULL / unsupported. */
  private def sketchBytes(dt: DataType, v: Any): Option[Array[Byte]] =
    (dt, v) match {
      case (_, null) => None
      case (StringType, s: String) => Some(s.getBytes("UTF-8"))
      case _ => SingleValue.encode(dt, v)
    }

  /** Types [[computeNdvStats]] can sketch (NDV of a binary blob or a
    * nested struct is not meaningful planning input). */
  private[graft] def ndvSketchable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | StringType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Compute per-column NDV theta sketches for the CURRENT snapshot and
    * publish them as an Iceberg STATISTICS file: one puffin
    * `apache-datasketches-theta-v1` blob per column — real Apache
    * DataSketches compact sketches (the library Spark ships), so any
    * Iceberg engine (Trino, Spark's iceberg runtime) consumes the
    * bytes directly. Sketches build DISTRIBUTEDLY: per-partition
    * update sketches, merged by theta Union in a treeReduce — one scan,
    * fixed 2^lgK-bounded state per task, no value ever collects. The
    * metadata `statistics` entry replaces any prior one (single current
    * stats file, Iceberg's own convention). Returns the NDV estimate
    * per column. */
  def computeNdvStats(spark: SparkSession, base: String,
                      cols: Seq[String]): Map[String, Long] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    require(cols.nonEmpty, "computeNdvStats needs >=1 column")
    val snap = snapshot(spark, base)
    val fids: Seq[Int] = cols.map { c =>
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column '$c' in $base"))
      require(ndvSketchable(f.dataType),
        s"column '$c' (${f.dataType.simpleString}) is not NDV-sketchable" +
        " — a silent 0 would poison broadcast decisions")
      require(f.metadata.contains("parquet.field.id"),
        s"column '$c' carries no field id — cannot key a statistics blob")
      f.metadata.getLong("parquet.field.id").toInt
    }
    val df = read(spark, base)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
    val types = df.schema.fields.map(_.dataType).toSeq
    val n = cols.size
    def emptySketches: Array[Array[Byte]] =
      Array.fill(n)(UpdateSketch.builder().build()
        .compact(true, null).toByteArray)
    def merge(a: Array[Array[Byte]], b: Array[Array[Byte]])
    : Array[Array[Byte]] =
      a.zip(b).map { case (x, y) =>
        val u = SetOperation.builder().buildUnion()
        u.union(Sketches.wrapSketch(Memory.wrap(x)))
        u.union(Sketches.wrapSketch(Memory.wrap(y)))
        u.getResult(true, null).toByteArray
      }
    val rdd = df.rdd.mapPartitions { it =>
      val sks = Array.fill(n)(UpdateSketch.builder().build())
      it.foreach { row =>
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i))
            sketchBytes(types(i), row.get(i)).foreach(sks(i).update)
          i += 1
        }
      }
      Iterator.single(sks.map(_.compact(true, null).toByteArray))
    }
    val sketches: Array[Array[Byte]] =
      if (rdd.isEmpty()) emptySketches else rdd.treeReduce(merge)
    val ndv: Seq[Long] = sketches.toSeq.map(b =>
      Math.round(Sketches.wrapSketch(Memory.wrap(b)).getEstimate))
    val seqNum = readMeta(base).get("last-sequence-number").asLong()
    val blobs = cols.indices.map(i => Puffin.StatsBlob(
      Puffin.ThetaBlobType, Seq(fids(i)), snap.snapshotId, seqNum,
      sketches(i), Map("ndv" -> ndv(i).toString)))
    val (fileBytes, footerSize, _) = Puffin.statsFileBytes(blobs)
    val metaDir = metadataDir(base)
    val statsPath = TableIO.join(metaDir,
      s"${snap.snapshotId}-${UUID.randomUUID()}.stats")
    io.writeBytes(statsPath, fileBytes)
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val statsArr = meta.putArray("statistics") // replace: ONE current file
    val entry = statsArr.addObject()
    entry.put("snapshot-id", snap.snapshotId)
    entry.put("statistics-path", PathCodec.absNorm(statsPath))
    entry.put("file-size-in-bytes", fileBytes.length.toLong)
    entry.put("file-footer-size-in-bytes", footerSize)
    val bm = entry.putArray("blob-metadata")
    blobs.foreach { b =>
      val e = bm.addObject()
      e.put("type", b.blobType)
      e.put("snapshot-id", b.snapshotId)
      e.put("sequence-number", b.sequenceNumber)
      val fs = e.putArray("fields"); b.fields.foreach(fs.add)
      val ps = e.putObject("properties")
      b.properties.foreach { case (k, v) => ps.put(k, v) }
    }
    commitMetadataVersion(base, meta)
    cols.zip(ndv).toMap
  }

  /** NDV estimate for a column from the table's statistics file —
    * recomputed from the sketch bytes (ground truth), not the recorded
    * property. None when no statistics file covers the column. Also
    * returns the snapshot the sketch was taken at, so callers can
    * judge staleness. */
  def ndvEstimate(base: String, colName: String): Option[(Long, Long)] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.Sketches
    val meta = readMeta(base)
    val fid: Long = schemaFromMeta(meta, base).fields
      .find(_.name == colName)
      .filter(_.metadata.contains("parquet.field.id"))
      .map(_.metadata.getLong("parquet.field.id"))
      .getOrElse(return None)
    val stats = Option(meta.get("statistics")).getOrElse(return None)
    (0 until stats.size()).map(stats.get).reverseIterator.flatMap { s =>
      val path = s.get("statistics-path").asText()
      if (!io.exists(path)) None
      else {
        val bytes = io.readBytes(path)
        Puffin.statsBlobs(bytes).collectFirst {
          case (t, fields, off, len, _)
              if t == Puffin.ThetaBlobType && fields == Seq(fid.toInt) =>
            val sk = Sketches.wrapSketch(Memory.wrap(
              java.util.Arrays.copyOfRange(bytes,
                off.toInt, (off + len).toInt)))
            (s.get("snapshot-id").asLong(), Math.round(sk.getEstimate))
        }
      }
    }.nextOption()
  }

  // ---- partition statistics (spec §Partition Statistics) ------------

  /** Compute the CURRENT snapshot's per-partition statistics file and
    * record the `partition-statistics` metadata entry (replacing any
    * prior one — single current file, like the NDV stats). Exact
    * values, from metadata only where possible:
    *  - data_record_count / data_file_count /
    *    total_data_file_size_in_bytes aggregate the manifests' per-file
    *    record counts and sizes — no data scan;
    *  - position-delete counts attribute by referenced data file (DVs
    *    name it in metadata; classic v2 delete files get ONE
    *    distributed scan of the delete parquets joined to the
    *    file→partition map);
    *  - equality deletes are global in this engine (partition=null
    *    scope), so their rows/files report under the null partition;
    *  - total_record_count (live rows) is emitted only when it is
    *    exact: data rows − position-deleted rows, omitted (null) for
    *    partitions equality deletes could touch — a wrong "accurate
    *    count" is worse than an absent optional field (the spec marks
    *    it optional).
    * Identity partition fields are typed by their source column;
    * transformed fields (bucket/truncate/day results) stay strings.
    * Returns the snapshot id the stats are keyed to. */
  /** The stats file's schema for a snapshot: identity partition fields
    * typed by source column (transform results stay strings), then the
    * spec's fixed stat columns. */
  private def partitionStatsSchema(snap: IcebergSnapshot)
  : (Seq[StructField], StructType) = {
    val srcType: Map[String, DataType] = snap.schema.fields
      .map(f => f.name -> f.dataType).toMap
    val partFields = snap.specFields.map { sf =>
      val dt = if (sf.transform == "identity")
        srcType.getOrElse(sf.name, StringType) else StringType
      StructField(sf.name, dt, nullable = true)
    }
    (partFields, StructType(partFields ++ Seq(
      StructField("spec_id", IntegerType, nullable = false),
      StructField("data_record_count", LongType, nullable = false),
      StructField("data_file_count", IntegerType, nullable = false),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false),
      StructField("position_delete_record_count", LongType, nullable = false),
      StructField("position_delete_file_count", IntegerType, nullable = false),
      StructField("equality_delete_record_count", LongType, nullable = false),
      StructField("equality_delete_file_count", IntegerType, nullable = false),
      StructField("total_record_count", LongType, nullable = true),
      StructField("last_updated_at", LongType, nullable = true),
      StructField("last_updated_snapshot_id", LongType, nullable = true))))
  }

  /** Write `retyped` as the new single-file partition-statistics
    * parquet and point the metadata's `partition-statistics` entry at
    * it (replacing any prior one). */
  private def publishPartitionStatsFile(spark: SparkSession, base: String,
                                        retyped: DataFrame,
                                        snapshotId: Long): Long = {
    val metaDir = metadataDir(base)
    val statsPath = TableIO.join(metaDir,
      s"partition-stats-$snapshotId-${UUID.randomUUID()}.parquet")
    val staged = StagedFiles.publish(
        TableIO.join(metaDir, s".pstats_${UUID.randomUUID()}"))(
      retyped.coalesce(1).write.parquet(_))(p => io.move(p.path, statsPath))
    if (staged.isEmpty) throw new IllegalStateException("no stats part file")
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val arr = meta.putArray("partition-statistics")
    val entry = arr.addObject()
    entry.put("snapshot-id", snapshotId)
    entry.put("statistics-path", PathCodec.absNorm(statsPath))
    entry.put("file-size-in-bytes", io.length(statsPath))
    commitMetadataVersion(base, meta)
    snapshotId
  }

  /** INCREMENTAL refresh (the procedure's incremental mode): when the
    * previous stats file covers S0 and every snapshot S0→HEAD is a
    * plain append (ancestry-walked, operation-checked), only the NEW
    * files aggregate and merge into the previous rows — a 100 TB table
    * taking daily appends never re-walks its full manifest census.
    * None = not applicable (no prior file, a non-append snapshot in
    * the chain, rollback broke ancestry, partition evolution since, or
    * the previous file predates a schema change) → caller recomputes
    * in full. */
  private def incrementalPartitionStats(spark: SparkSession, base: String,
                                        snap: IcebergSnapshot)
  : Option[Long] = {
    import org.apache.spark.sql.functions._
    val meta = readMeta(base)
    val prevEntry = Option(meta.get("partition-statistics"))
      .filter(_.size() > 0).map(a => a.get(a.size() - 1))
      .getOrElse(return None)
    val s0 = prevEntry.get("snapshot-id").asLong()
    val prevPath = PathCodec.absNorm(
      prevEntry.get("statistics-path").asText())
    if (!io.exists(prevPath)) return None
    if (s0 == snap.snapshotId) return Some(s0) // already current
    // ancestry walk HEAD→S0: every step must be an append
    val snaps = meta.get("snapshots")
    val byId = (0 until snaps.size()).map(snaps.get)
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    val newIds = scala.collection.mutable.Set.empty[Long]
    var cur = snap.snapshotId
    while (cur != s0) {
      val node = byId.getOrElse(cur, return None)
      val op = Option(node.get("summary"))
        .flatMap(x => Option(x.get("operation")))
        .map(_.asText()).getOrElse("")
      if (op != "append") return None
      newIds += cur
      cur = Option(node.get("parent-snapshot-id")).map(_.asLong())
        .getOrElse(return None)
    }
    val partCols = snap.specFields.map(_.name)
    val newFiles = snap.files.filter(f => newIds.contains(f.addedSnapshotId))
    // partition evolution since the appends → the new files' records
    // wouldn't key the same columns; recompute in full
    if (newFiles.exists(f =>
        f.partitionValues.keySet != partCols.toSet)) return None
    val (partFields, statsSchema) = partitionStatsSchema(snap)
    val prev = spark.read.parquet(prevPath)
    if (prev.schema.fieldNames.toSeq != statsSchema.fieldNames.toSeq)
      return None // schema changed since the previous stats run
    val committedAt = meta.get("last-updated-ms").asLong()
    val newRows: Seq[org.apache.spark.sql.Row] = newFiles
      .groupBy(f => partCols.map(c => f.partitionValues.getOrElse(c, null)))
      .toSeq.map { case (k, fs) =>
        val dr = fs.map(_.recordCount).sum
        // appends carry no deletes: the partition delta is data-only
        // and its live-row total is exact
        org.apache.spark.sql.Row.fromSeq(
          k ++ Seq(snap.defaultSpecId, dr, fs.size,
            fs.map(f => math.max(f.sizeBytes, 0L)).sum, 0L, 0, 0L, 0,
            Long.box(dr), committedAt, snap.snapshotId))
      }
    val untypedSchema = StructType(partFields.map(f =>
      f.copy(dataType = StringType)) ++ statsSchema.drop(partFields.size))
    val newDf = partFields.foldLeft(spark.createDataFrame(
        spark.sparkContext.parallelize(newRows, 1), untypedSchema)) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(f.dataType)) }
      .select(statsSchema.fieldNames.map(col): _*)
    // a partition's total stays exact only if EVERY merged row had an
    // exact total (an equality-delete-shadowed prev row keeps null)
    val merged = prev.unionByName(newDf)
      .groupBy((partFields.map(_.name) :+ "spec_id").map(col): _*)
      .agg(
        sum("data_record_count").as("data_record_count"),
        sum("data_file_count").as("data_file_count"),
        sum("total_data_file_size_in_bytes")
          .as("total_data_file_size_in_bytes"),
        sum("position_delete_record_count")
          .as("position_delete_record_count"),
        sum("position_delete_file_count").as("position_delete_file_count"),
        sum("equality_delete_record_count")
          .as("equality_delete_record_count"),
        sum("equality_delete_file_count").as("equality_delete_file_count"),
        when(count(lit(1)) === count(col("total_record_count")),
          sum("total_record_count")).otherwise(lit(null))
          .as("total_record_count"),
        max("last_updated_at").as("last_updated_at"),
        max("last_updated_snapshot_id").as("last_updated_snapshot_id"))
    val retyped = merged.select(statsSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    Some(publishPartitionStatsFile(spark, base, retyped, snap.snapshotId))
  }

  def computePartitionStats(spark: SparkSession, base: String,
                            incremental: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{broadcast => bcast, _}
    import spark.implicits._
    val snap = snapshot(spark, base)
    if (incremental) incrementalPartitionStats(spark, base, snap) match {
      case Some(sid) => return sid
      case None      => // fall through to the full census
    }
    val partCols: Seq[String] = snap.specFields.map(_.name)
    def keyOf(pv: Map[String, String]): Seq[String] =
      partCols.map(c => pv.getOrElse(c, null))
    // data-side aggregates: pure metadata
    val dataAgg: Map[Seq[String], (Long, Int, Long)] =
      snap.files.groupBy(f => keyOf(f.partitionValues)).map {
        case (k, fs) => k -> ((fs.map(_.recordCount).sum, fs.size,
          fs.map(f => math.max(f.sizeBytes, 0L)).sum))
      }
    // position deletes by referenced file (DVs / v3) — metadata only
    val partOfFile: Map[String, Seq[String]] = snap.files.map(f =>
      PathCodec.metadataPathKey(f.path) -> keyOf(f.partitionValues)).toMap
    val dvDeletes: Map[Seq[String], (Long, Int)] = snap.deletes
      .filter(_.referencedDataFile.isDefined)
      .groupBy(d => partOfFile.getOrElse(
        PathCodec.metadataPathKey(resolvePath(base,
          d.referencedDataFile.get)), Seq.fill(partCols.size)(null)))
      .map { case (k, ds) =>
        k -> ((ds.map(_.recordCount).sum, ds.size)) }
    // classic v2 position-delete files: one distributed scan of the
    // delete parquets, counted per (delete file, referenced data file)
    // then attributed to the referenced file's partition; a delete FILE
    // spanning partitions counts once per partition it touches
    val classic = snap.deletes.filterNot(_.referencedDataFile.isDefined)
    val classicDeletes: Map[Seq[String], (Long, Int)] =
      if (classic.isEmpty) Map.empty
      else {
        val perPair = spark.read.parquet(classic.map(_.path): _*)
          .select(col("file_path"),
            col("_metadata.file_path").as("__del_file"))
          .groupBy(col("__del_file"), col("file_path"))
          .agg(count(lit(1)).as("n"))
          .collect() // one row per (delete file, data file) — metadata-scale
          .map(r => (r.getString(0),
            partOfFile.getOrElse(
              PathCodec.metadataPathKey(r.getString(1)),
              Seq.fill(partCols.size)(null: String)),
            r.getLong(2)))
        val recCounts = perPair.groupBy(_._2)
          .map { case (k, xs) => k -> xs.map(_._3).sum }
        val fileCounts = perPair.map(x => (x._2, x._1)).distinct
          .groupBy(_._1).map { case (k, xs) => k -> xs.size }
        recCounts.map { case (k, n) =>
          k -> ((n, fileCounts.getOrElse(k, 0))) }
      }
    val posDeletes: Map[Seq[String], (Long, Int)] =
      (dvDeletes.keySet ++ classicDeletes.keySet).map { k =>
        val a = dvDeletes.getOrElse(k, (0L, 0))
        val b = classicDeletes.getOrElse(k, (0L, 0))
        k -> ((a._1 + b._1, a._2 + b._2))
      }.toMap
    // equality deletes: global scope in this engine → null partition
    val nullKey = Seq.fill(partCols.size)(null: String)
    val eqRows = snap.eqDeletes.map(_.recordCount).sum
    val eqFiles = snap.eqDeletes.size
    val allKeys = (dataAgg.keySet ++ posDeletes.keySet ++
      (if (eqFiles > 0) Set(nullKey) else Set.empty)).toSeq
    val committedAt = readMeta(base).get("last-updated-ms").asLong()
    val outRows: Seq[org.apache.spark.sql.Row] = allKeys.map { k =>
      val (dr, df_, sz) = dataAgg.getOrElse(k, (0L, 0, 0L))
      val (pr, pf) = posDeletes.getOrElse(k, (0L, 0))
      val (er, ef) = if (eqFiles > 0 && k == nullKey) (eqRows, eqFiles)
                     else (0L, 0)
      val total: Option[Long] =
        if (eqFiles > 0) None else Some(dr - pr)
      org.apache.spark.sql.Row.fromSeq(
        k ++ Seq(snap.defaultSpecId, dr, df_, sz, pr, pf,
          er, ef, total.map(Long.box).orNull, committedAt, snap.snapshotId))
    }
    // identity fields typed by source column; transform results stay
    // strings (documented). Build with STRING partition values (the
    // manifests' form), then cast identity fields to their source
    // types in one pass — Spark's own cast semantics, not a
    // re-implementation
    val (partFields, statsSchema) = partitionStatsSchema(snap)
    val untypedSchema = StructType(partFields.map(f =>
      f.copy(dataType = StringType)) ++ statsSchema.drop(partFields.size))
    val untyped = spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, 1), untypedSchema)
    val retyped = partFields.foldLeft(untyped) { (d, f) =>
      d.withColumn(f.name, col(f.name).cast(f.dataType)) }
      .select(statsSchema.fieldNames.map(col): _*)
    publishPartitionStatsFile(spark, base, retyped, snap.snapshotId)
  }

  /** The recorded partition-statistics file as a DataFrame (None when
    * the table carries none). */
  def partitionStats(spark: SparkSession, base: String)
  : Option[DataFrame] = {
    val meta = readMeta(base)
    Option(meta.get("partition-statistics")).filter(_.size() > 0).map { s =>
      spark.read.parquet(s.get(s.size() - 1)
        .get("statistics-path").asText())
    }
  }

  /** Read for a JOIN with the NDV-informed broadcast choice: when every
    * join key's sketched NDV is at or under `maxNdv` (a dimension
    * table's key NDV ≈ its row count), the scan gets an explicit
    * broadcast hint — the decision a size-only planner cannot make
    * when the dim is wide on disk but small in rows. Falls back to the
    * plain read (planner's own choice) when no statistics cover the
    * keys. */
  def readWithNdvBroadcast(spark: SparkSession, base: String,
                           joinCols: Seq[String],
                           maxNdv: Long = 1000000L): DataFrame = {
    val df = read(spark, base)
    val ndvs = joinCols.map(c => ndvEstimate(base, c))
    if (ndvs.nonEmpty && ndvs.forall(_.exists(_._2 <= maxNdv)))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Expire old snapshots, exactly as Iceberg's `expire_snapshots`
    * maintenance procedure behaves: the newest `retainLast` snapshots
    * (always including the current one) survive; every expired
    * snapshot is dropped from a NEW metadata.json (committed via the
    * same atomic version-hint rename as any write), and every file —
    * manifest list, manifest, data/delete file — reachable ONLY from
    * expired snapshots is physically deleted. Reachability is computed
    * conservatively (any path a retained snapshot's manifests mention,
    * including `deleted`-status entries, is kept), so a file a retained
    * snapshot could read is never removed. Time travel to an expired
    * snapshot id then fails loudly ("snapshot not found"), per
    * Iceberg's contract. Driver-side metadata walk only — cost is
    * proportional to manifests, never data. Returns the deleted paths
    * (table-relative where possible). */
  def expireSnapshots(spark: SparkSession, base: String,
                      retainLast: Int = 1): Seq[String] = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    // a LAGGING Delta mirror may reference files only expired
    // snapshots hold; syncing first pins it to the current live set,
    // which expire never deletes
    if (DeltaInterop.isIcebergMirror(base))
      DeltaInterop.syncMirrorFromIceberg(spark, base)
    val meta = readMeta(base)
    val snaps = meta.get("snapshots")
    val all = (0 until snaps.size()).map(snaps.get)
    val currentId = meta.get("current-snapshot-id").asLong()
    // named refs (tags/branches) PIN their snapshots: expiring a
    // tagged snapshot would leave a ref pointing at nothing — the
    // spec's retention contract is that refs are kept until the ref
    // itself is dropped
    val refHeads: Seq[(String, Long)] =
      Option(meta.get("refs")).map { r =>
        import scala.jdk.CollectionConverters._
        r.fields().asScala
          .map(e => (e.getValue.get("type").asText(),
            e.getValue.get("snapshot-id").asLong())).toSeq
      }.getOrElse(Seq.empty)
    // a BRANCH additionally pins its parent chain: fastForward's
    // publish check walks parent-snapshot-id links, so expiring an
    // unpublished branch's ancestors would strand the branch
    // unpublishable (tags pin only their own snapshot)
    val parentOf: Map[Long, Long] = all
      .flatMap(s => Option(s.get("parent-snapshot-id"))
        .map(p => s.get("snapshot-id").asLong() -> p.asLong())).toMap
    val refIds: Set[Long] = refHeads.flatMap { case (tpe, head) =>
      if (tpe != "branch") Seq(head)
      else Iterator.iterate(Option(head))(_.flatMap(parentOf.get))
        .takeWhile(_.isDefined).map(_.get).toSeq
    }.toSet
    // keep ORIGINAL array order: after a rollback the current snapshot
    // is not the last element, and `takeRight ++ current` would write a
    // non-chronological snapshots array — breaking the oldest-first
    // assumption the next expire's takeRight (and snapshotIds) relies on
    val retainedSet = (all.takeRight(retainLast) ++
      all.filter { s =>
        val sid = s.get("snapshot-id").asLong()
        sid == currentId || refIds.contains(sid)
      }).distinct.toSet
    val retained = all.filter(retainedSet.contains)
    if (retained.size == all.size) return Seq.empty

    // every on-disk path a set of snapshots can reach: manifest list →
    // manifests → data/delete files (conservatively including
    // deleted-status entries)
    def reachable(of: Seq[JsonNode]): Set[String] = of.flatMap { s =>
      val ml = resolvePath(base, s.get("manifest-list").asText())
      val viaManifests =
        if (!io.exists(ml)) Seq.empty
        else readAvro(ml).flatMap { m =>
          val mf = resolvePath(base, m.get("manifest_path").toString)
          val entries =
            if (!io.exists(mf)) Seq.empty
            else readAvro(mf).map { e =>
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              PathCodec.absNorm(
                resolvePath(base, df.get("file_path").toString))
            }
          PathCodec.absNorm(mf) +: entries
        }
      PathCodec.absNorm(ml) +: viaManifests
    }.toSet

    val expired = all.filterNot(retained.contains)
    val root = PathCodec.absNorm(base)
    def mlsOf(of: Seq[JsonNode]): Seq[String] = of.map(s =>
      PathCodec.absNorm(resolvePath(base, s.get("manifest-list").asText())))
      .distinct
    val (retainedMls, expiredMls) = (mlsOf(retained), mlsOf(expired))
    // same fan-out decision as remove_orphan_files: manifest count is
    // the file-scale proxy; below the threshold the driver crawl wins
    val threshold = GcListing.fanoutThreshold(spark)
    val smallEnough =
      if (retainedMls.size + expiredMls.size >= threshold) false
      else (retainedMls ++ expiredMls).flatMap { ml =>
        if (!io.exists(ml)) Seq.empty
        else readAvro(ml).map(_.get("manifest_path").toString)
      }.distinct.size < threshold
    val deleted: Seq[String] =
      if (smallEnough)
        (reachable(expired) -- reachable(retained)).toSeq.sorted.flatMap { p =>
          if (io.exists(p) && io.delete(p))
            Some(if (p.startsWith(root)) p.stripPrefix(root).stripPrefix("/")
                 else p)
          else None
        }
      else {
        // at 10⁶–10⁷ files the two reachability sets are hundreds of
        // MB of driver strings; build both as Spark jobs and take the
        // difference as a distributed except — only the (bounded)
        // reclaim list ever reaches the driver
        val dead = reachableFromManifestLists(spark, base, expiredMls)
          .except(reachableFromManifestLists(spark, base, retainedMls))
        GcListing.reap(spark, root, dead, dryRun = false)
      }

    // commit the pruned snapshot list as a new metadata version
    val newRoot = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val arr = newRoot.putArray("snapshots")
    retained.foreach(arr.add)
    // spec §Table Statistics: statistics files of EXPIRED snapshots are
    // dropped with them (a sketch keyed to a snapshot no reader can
    // resolve is dead weight); retained-snapshot stats carry
    val retainedIds = retained
      .map(_.get("snapshot-id").asLong()).toSet
    val statsDeleted = Seq("statistics", "partition-statistics").flatMap {
      key => Option(meta.get(key)).toSeq.flatMap { st =>
        val keepArr = newRoot.putArray(key)
        (0 until st.size()).map(st.get).flatMap { s =>
          if (retainedIds.contains(s.get("snapshot-id").asLong())) {
            keepArr.add(s.deepCopy[JsonNode]()); None
          } else {
            val p = PathCodec.absNorm(s.get("statistics-path").asText())
            if (io.exists(p) && io.delete(p))
              Some(if (p.startsWith(root))
                p.stripPrefix(root).stripPrefix("/") else p)
            else None
          }
        }
      }
    }
    commitMetadataVersion(base, newRoot)
    deleted ++ statsDeleted
  }

  /** Data-file COMPACTION — the `rewrite_data_files` maintenance
    * procedure (bin packing): data files under `smallFileBytes` are
    * read (live rows only — position AND equality deletes fold into the
    * rewrite, each gated by its sequence number exactly as a scan
    * would), re-written as ~`targetFileBytes` files per partition, and
    * committed as ONE "replace" snapshot. Without it a
    * streaming-appended table accretes a file per micro-batch forever —
    * scan planning cost grows linearly in commits, not data.
    *
    * Correctness invariants:
    *  - SURVIVING files are untouched on disk and keep their DATA
    *    SEQUENCE NUMBERS: their manifests are carried (filtered copies
    *    when a manifest mixes survivors and rewritten files) under the
    *    original manifest-list sequence, so later equality deletes
    *    still gate correctly;
    *  - the REWRITTEN files commit at the new snapshot's sequence —
    *    above every existing delete — so no old delete can re-kill rows
    *    that survived the fold;
    *  - delete files are DROPPED once dead weight: a position-delete
    *    file whose referenced data files were all rewritten, or an
    *    equality-delete file with no surviving data file strictly below
    *    its sequence; all others are carried. Compacting everything
    *    therefore clears the table's delete files (what the streaming
    *    tail requires).
    *
    * Snapshot summaries record operation=replace, which `readChangelog`
    * skips (a rewrite is not a logical change). Identity partition
    * specs only (each partition bin-packs separately); `minInputFiles`
    * small files must qualify in a partition before it rewrites.
    * Returns the new snapshot id, or the current one on no-op. */
  /** `rewrite_manifests`: consolidate the current snapshot's DATA
    * manifests into ONE, without touching any data file — the cure for
    * manifest accretion (every append adds a manifest; after 10k
    * streaming commits a scan plans against 10k manifest reads). Each
    * consolidated entry carries its EXPLICIT sequence number (spec
    * field-id 3) — sequence-number inheritance from the manifest would
    * otherwise collapse every file onto one seq and break the strict
    * sequence gates delete application depends on. Delete manifests
    * carry as-is (few, semantically distinct). Metadata-only: one
    * manifest write + one replace snapshot. Refuses transformed
    * partition specs (partition records are rebuilt typed). */
  /** One manifest file from DataFileEntry rows carrying EXPLICIT
    * per-entry sequence numbers (entry field-id 3) — inheritance-free,
    * so the strict sequence gates delete application depends on
    * survive any later fold. Shared by rewrite_manifests (existing
    * entries at their recorded seqs) and cherryPick (added entries at
    * the new snapshot's seq). */
  private def writeEntriesManifest(metaDir: String, name: String,
                                   files: Seq[DataFileEntry],
                                   snapshotId: Long, status: Int,
                                   seqOf: DataFileEntry => Long,
                                   partTypes: Seq[(String, DataType)],
                                   specFieldIds: Seq[Int] = Seq.empty): String = {
    def parsePv(dt: DataType, s: String): Any = parsePartitionValue(dt, s)
    val entrySchema = entrySchemaFor(partTypes, specFieldIds)
    val entries = files.map { f =>
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", status)
      rec.put("snapshot_id", snapshotId)
      rec.put("sequence_number", Long.box(seqOf(f)))
      val dfSchema = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 0)
      dfr.put("file_path", f.path)
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count", f.recordCount)
      dfr.put("file_size_in_bytes",
        if (f.sizeBytes >= 0) f.sizeBytes else io.length(f.path))
      f.sortOrderId.foreach(v => dfr.put("sort_order_id", Int.box(v)))
      if (f.lowerBounds.nonEmpty)
        dfr.put("lower_bounds", avroBounds(dfSchema, "lower_bounds", f.lowerBounds))
      if (f.upperBounds.nonEmpty)
        dfr.put("upper_bounds", avroBounds(dfSchema, "upper_bounds", f.upperBounds))
      if (partTypes.nonEmpty) {
        val pr = new GenericData.Record(dfSchema.getField("partition").schema())
        partTypes.foreach { case (c, dt) =>
          pr.put(c, parsePv(dt, f.partitionValues.getOrElse(c, null)))
        }
        dfr.put("partition", pr)
      }
      rec.put("data_file", dfr)
      rec
    }
    val mFile = TableIO.join(metaDir, name)
    writeAvro(mFile, entrySchema, entries)
    mFile
  }

  /** Positionalize equality deletes: ONE distributed scan computes the
    * row coordinates each live equality delete currently kills (the
    * same null-safe value match + strict sequence gate `assembleRead`
    * applies, flipped to a SEMI join), commits them as a sorted
    * position-delete file, and drops the equality-delete files from the
    * delete manifests in the SAME snapshot. Value-equivalent by
    * construction: a position delete at the new head sequence kills
    * exactly the rows the equality delete killed (files appended later
    * carry higher sequences either way). This is the maintenance step
    * that unlocks CONVERT TO DELTA of a CDC-upserted table WITHOUT
    * compaction — position deletes translate to deletion vectors, data
    * files stay untouched. Scan cost: the live table once, scoped to
    * nothing less (equality deletes carry no bounds); still no
    * rewrite of any data file. */
  def positionalizeEqualityDeletes(spark: SparkSession, base: String): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import spark.implicits._
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    val snap = snapshot(spark, base)
    if (snap.eqDeletes.isEmpty)
      return prev.get("current-snapshot-id").asLong()
    require(snap.formatVersion == 2,
      "positionalizeEqualityDeletes writes position-delete files, which " +
      "format v3 forbids — fold the equality deletes on v3 with a " +
      "rewrite (rewriteDataFiles) instead")
    // live-modulo-position-deletes scan with coordinates: the rows the
    // equality deletes still see (position-deleted rows are already
    // dead and must not re-die positionally)
    val scan0 = assembleRead(spark, snap.copy(eqDeletes = Seq.empty),
      snap.files, keepCoords = true)
    val fileMap = snap.files.map(f =>
      (PathCodec.metadataPathKey(f.path), f.rawPath, f.seq))
      .toDF("__ice_file", "__raw", "__data_seq")
    val scan = scan0.join(broadcast(fileMap), Seq("__ice_file")).persist()
    try {
      val deadParts = equalityDeleteSides(spark, snap, snap.eqDeletes).map {
        case (seq, side, matches) =>
          scan.join(side, matches && col("__data_seq") < lit(seq), "left_semi")
            .select(col("__raw").as("file_path"), col("__ice_pos").as("pos"))
      }
      val dead = deadParts.reduce(_ unionByName _)
        .dropDuplicates("file_path", "pos")
      val snapshotId = nextSnapshotId(prev)
      val id = UUID.randomUUID().toString
      val n = dead.count()
      // stage the sorted position-delete parquet (spec: sorted)
      val carried = manifestsWithoutEqDeletes(base, prev)
      if (n == 0) {
        // nothing currently matches — just drop the dead-weight
        // equality-delete files
        return commitManifestListSnapshot(base, prev, carried,
          snapshotId, id, "replace")
      }
      val parts = math.max(1, math.ceil(n / 4e6).toInt)
      val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)
      val delFiles = StagedFiles.publish(TableIO.join(base, s".stage_$id"))(
        dead.repartitionByRange(parts, col("file_path"), col("pos"))
          .sortWithinPartitions("file_path", "pos")
          .write.parquet(_))(moveTo(dataDir, s"delete-poseq-$id"))
      val counts = StagedFiles.perFile(spark, delFiles)
      val entrySchema = entrySchemaFor(Seq.empty)
      val recs = delFiles.map { df =>
        val rec = new GenericData.Record(entrySchema)
        rec.put("status", 1); rec.put("snapshot_id", snapshotId)
        val dfr = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        dfr.put("content", 1) // position deletes
        dfr.put("file_path", PathCodec.absNorm(df))
        dfr.put("file_format", "PARQUET")
        dfr.put("record_count", counts.get(df).map(_.rows).getOrElse(0L))
        dfr.put("file_size_in_bytes", io.length(df))
        rec.put("data_file", dfr)
        rec
      }
      val mFile = TableIO.join(metaDir, s"manifest-del-$id.avro")
      writeAvro(mFile, entrySchema, recs)
      commitManifestListSnapshot(base, prev,
        carried :+ ManifestRef(mFile, 1, snapshotId, snapshotId,
          Option(prev.get("default-spec-id")).map(_.asInt()).getOrElse(0)),
        snapshotId, id, "replace")
    } finally scan.unpersist()
  }

  /** The current manifests with every equality-delete FILE dropped:
    * data manifests carry verbatim; delete manifests keep only their
    * position-delete entries (filtered copies under the original
    * sequence), all-equality manifests drop entirely. */
  private def manifestsWithoutEqDeletes(base: String,
                                        prev: JsonNode): Seq[ManifestRef] = {
    val metaDir = metadataDir(base)
    currentManifests(base, prev).flatMap { m =>
      if (m.content == 0) Some(m)
      else {
        val (sch, recs) = readAvroWithSchema(m.file)
        val kept = recs.filter { e =>
          e.get("status").toString.toInt != 2 && {
            val dfr = e.get("data_file").asInstanceOf[GenericRecord]
            opt(dfr, "content").map(_.toString.toInt).getOrElse(0) != 2
          }
        }
        if (kept.size == recs.size) Some(m)
        else if (kept.isEmpty) None
        else {
          val nf = TableIO.join(metaDir,
            s"manifest-filtered-${UUID.randomUUID()}.avro")
          writeAvro(nf, sch, kept)
          Some(m.copy(file = nf))
        }
      }
    }
  }

  def rewriteManifests(spark: SparkSession, base: String): Long = {
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    val snap = snapshot(spark, base)
    require(snap.specFields.forall(_.transform == "identity"),
      "rewriteManifests on a transformed partition spec is not " +
      "implemented — refusing")
    require(snap.uniformSpec,
      "rewriteManifests restamps every live entry's partition record " +
      "under the default spec — some live files still carry an older " +
      "spec's record (partition evolution); compact those files away " +
      "first (refusing)")
    val manifests = currentManifests(base, prev)
    val dataManifests = manifests.filter(_.content == 0)
    if (dataManifests.size <= 1)
      return prev.get("current-snapshot-id").asLong() // nothing to fold
    val snapshotId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString
    val partTypes: Seq[(String, DataType)] =
      snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val mFile = writeEntriesManifest(metaDir, s"manifest-folded-$id.avro",
      snap.files.sortBy(_.path), snapshotId,
      status = 0, // existing — this snapshot adds no data
      seqOf = _.seq, // explicit per-entry seq, not inherited
      partTypes = partTypes,
      specFieldIds = snap.specFields.map(_.fieldId))
    // the manifest-level seq is only the INHERITANCE fallback; every
    // entry above carries its own, so the current high seq is correct
    val newRef = ManifestRef(mFile, 0,
      prev.get("last-sequence-number").asLong(), snapshotId,
      snap.defaultSpecId)
    commitManifestListSnapshot(base, prev,
      manifests.filter(_.content == 1) :+ newRef,
      snapshotId, id, "replace")
  }

  def rewriteDataFiles(spark: SparkSession, base: String,
                       smallFileBytes: Long = 32L << 20,
                       targetFileBytes: Long = 128L << 20,
                       minInputFiles: Int = 2,
                       partitionFilter: Map[String, String] = Map.empty): Long = {
    require(minInputFiles >= 2, "compaction needs >=2 input files per bin")
    rewriteDataFilesCore(spark, base, smallFileBytes, targetFileBytes,
      minInputFiles, Seq.empty, 0, partitionFilter)
  }

  /** Sort-based rewrite — the Iceberg analogue of Delta's OPTIMIZE
    * ZORDER: EVERY data file of each partition rewrites range-
    * partitioned + sorted on `sortBy`, so the replacement files cover
    * DISJOINT value ranges and the manifests' per-file bounds let
    * `readRange` prune most of them on a range predicate (the layout +
    * metadata pair a 100 TB fact table needs). Deletes fold in during
    * the rewrite, same replace-snapshot commit as plain compaction. */
  def rewriteDataFilesSorted(spark: SparkSession, base: String,
                             sortBy: Seq[String] = Seq.empty,
                             filesPerPartition: Int = 8): Long = {
    // no explicit columns → the table's default sort order (Iceberg's
    // own `rewrite_data_files(strategy => 'sort')` contract); the core
    // sorts ascending, so a desc field in the order needs an explicit
    // sortBy rather than a silently-wrong direction
    val effSort =
      if (sortBy.nonEmpty) sortBy
      else {
        val (oid, fields) = defaultSortOrder(base)
        require(oid != 0 && fields.nonEmpty,
          "sorted rewrite with no columns: the table has no default " +
          "sort order — setSortOrder / ALTER TABLE ... WRITE ORDERED " +
          "BY first, or pass sortBy")
        require(fields.forall(_._2),
          "the table's sort order has a DESC field — this rewrite " +
          "sorts ascending; pass sortBy explicitly")
        fields.map(_._1)
      }
    require(filesPerPartition >= 1, "filesPerPartition must be >=1")
    rewriteDataFilesCore(spark, base, Long.MaxValue, Long.MaxValue,
      1, effSort, filesPerPartition, Map.empty)
  }

  private def rewriteDataFilesCore(spark: SparkSession, base: String,
                                   smallFileBytes: Long,
                                   targetFileBytes: Long,
                                   minInputFiles: Int,
                                   sortBy: Seq[String],
                                   filesPerPartition: Int,
                                   partitionFilter: Map[String, String]): Long = {
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    require(io.exists(hint), s"not an Iceberg table (no version hint): $base")
    val prev = readMeta(base)
    val snap = snapshot(spark, base)
    require(snap.specFields.forall(_.transform == "identity"),
      "rewriteDataFiles on a transformed partition spec (bucket/truncate/" +
      "time) is not implemented — refusing")
    require(snap.uniformSpec,
      "rewriteDataFiles restamps replacement files' partition records " +
      "from the inputs' records, which must all be of the DEFAULT spec " +
      "— some live files still carry an older spec's record (partition " +
      "evolution); rewrite those through overwriteTransformed/DML first " +
      "(refusing)")
    sortBy.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"no column '$c' in $base")
      require(!snap.partitionColumns.contains(c),
        s"'$c' is a partition column — sorting it is meaningless")
    }
    // OPTIMIZE ... WHERE: compact only the matching identity
    // partitions — a 100 TB table compacts its hot partition, not the
    // world
    partitionFilter.keys.foreach(k =>
      require(snap.partitionColumns.contains(k),
        s"rewriteDataFiles partitionFilter: '$k' is not an identity " +
        s"partition column of $base " +
        s"(partitioned by ${snap.partitionColumns.mkString(", ")})"))
    val groups = snap.files
      .filter(f => partitionFilter.forall { case (k, v) =>
        f.partitionValues.get(k).contains(v) })
      .filter(f => sortBy.nonEmpty ||
        io.length(f.path) < smallFileBytes)
      .groupBy(_.partitionValues)
      .filter(_._2.size >= minInputFiles)
    if (groups.isEmpty) return prev.get("current-snapshot-id").asLong()
    val rewritten = groups.values.flatten.toSeq
    val rewrittenRaw = rewritten.map(_.rawPath).toSet
    val survivors = snap.files.filterNot(f => rewrittenRaw.contains(f.rawPath))
    val snapshotId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString
    val dataDir = TableIO.join(base, "data"); io.mkdirs(dataDir)

    // 1. per partition: read the group's LIVE rows (deletes folded) and
    // stage bin-packed replacements. Driver loop bounded by partitions,
    // same shape as the writer's fan-out.
    def parsePv(dt: DataType, s: String): Any = parsePartitionValue(dt, s)
    val partTypes: Seq[(String, DataType)] =
      snap.partitionColumns.map(c => c -> snap.schema(c).dataType)
    val entrySchema = entrySchemaFor(partTypes, snap.specFields.map(_.fieldId))
    val newEntries = mutable.ArrayBuffer.empty[GenericRecord]
    // v3 row lineage rides along MATERIALIZED: compaction must be
    // id-invariant (spec: rewritten rows keep _row_id and
    // _last_updated_sequence_number)
    val lineageOn = snap.formatVersion >= 3
    // replacement entries stamp the table's sort order when the
    // requested sort IS that order (ascending identity match) — a
    // sorted rewrite by anything else leaves the stamp off
    val stampOid: Option[Int] = {
      val (did, fields) = defaultSortOrder(base)
      if (did != 0 && sortBy.nonEmpty &&
          fields.map(_._1) == sortBy && fields.forall(_._2)) Some(did)
      else None
    }
    groups.toSeq.sortBy(_._1.toSeq.sorted.mkString(",")).zipWithIndex.foreach {
      case ((pv, fs), gi) =>
        val live =
          if (!lineageOn) assembleRead(spark, snap, fs)
          else {
            import org.apache.spark.sql.functions.col
            attachLineage(fs, assembleRead(spark, snap, fs,
                keepCoords = true, extraCols = lineageExtras))
              .select((snap.schema.fieldNames.toSeq ++
                Seq(RowIdCol, LastUpdatedSeqCol)).map(col): _*)
          }
        val shaped =
          if (sortBy.isEmpty) {
            val bytes = fs.map(f => io.length(f.path)).sum
            val n = math.max(1,
              math.ceil(bytes.toDouble / targetFileBytes).toInt)
            live.coalesce(n)
          } else {
            import org.apache.spark.sql.functions.col
            live.repartitionByRange(filesPerPartition, sortBy.map(col): _*)
              .sortWithinPartitions(sortBy.map(col): _*)
          }
        val staged = StagedFiles.publish(TableIO.join(base, s".stage_$id-$gi"))(
          withFieldIds(shaped, lineageIdOf(schemaIdOf(snap.schema)))
            .write.mode("overwrite").parquet(_))(moveTo(dataDir, s"$id-$gi"))
        val boundsByFile =
          collectBounds(spark, snap.schema, staged, schemaIdOf(snap.schema))
        staged.foreach { f =>
          val rec = new GenericData.Record(entrySchema)
          rec.put("status", 1); rec.put("snapshot_id", snapshotId)
          val dfSchema = entrySchema.getField("data_file").schema()
          val dfr = new GenericData.Record(dfSchema)
          dfr.put("content", 0)
          dfr.put("file_path", PathCodec.absNorm(f))
          dfr.put("file_format", "PARQUET")
          dfr.put("record_count", boundsByFile.get(f)
            .map(_._1).getOrElse(0L))
          dfr.put("file_size_in_bytes", io.length(f))
          stampOid.foreach(v => dfr.put("sort_order_id", Int.box(v)))
          boundsByFile.get(f).foreach { case (_, lo, hi, _) =>
            dfr.put("lower_bounds", avroBounds(dfSchema, "lower_bounds", lo))
            dfr.put("upper_bounds", avroBounds(dfSchema, "upper_bounds", hi))
          }
          if (snap.partitionColumns.nonEmpty) {
            val pr = new GenericData.Record(dfSchema.getField("partition").schema())
            partTypes.foreach { case (c, dt) =>
              pr.put(c, parsePv(dt, pv.getOrElse(c, null)))
            }
            dfr.put("partition", pr)
          }
          rec.put("data_file", dfr)
          newEntries += rec
        }
    }
    val mFile = TableIO.join(metaDir, s"manifest-$id.avro")
    writeAvro(mFile, entrySchema, newEntries.toSeq)

    // 2. carry existing manifests, filtered: rewritten data files out
    // (by name), dead-weight delete files out (by reachability/sequence)
    val carried = carryManifestsWithout(spark, base, prev, rewrittenRaw,
      survivors)
    // Losing the version race to a concurrent append is the NORMAL
    // state of a maintained table — rebase like SnapshotProducer:
    // re-carry the winner's head manifests (its appends ride along)
    // and republish the same replacement files, refusing only on true
    // conflicts (the rewritten inputs vanished, or new deletes landed
    // that the replacement files would outrank and lose).
    val prevSeq = prev.get("last-sequence-number").asLong()
    val rebase = SnapshotRebase(
      check = head => {
        val headSnap = snapshot(spark, base,
          Some(head.get("current-snapshot-id").asLong()))
        val liveRaw = headSnap.files.map(_.rawPath).toSet
        if (!rewrittenRaw.subsetOf(liveRaw))
          throw new java.util.ConcurrentModificationException(
            s"rewriteDataFiles on $base lost the race to a commit that " +
            "removed or rewrote files this compaction also rewrites — " +
            "conflicting writes, refusing")
        if (headSnap.eqDeletes.exists(_.seq > prevSeq))
          throw new java.util.ConcurrentModificationException(
            s"rewriteDataFiles on $base raced a concurrent equality " +
            "delete — the replacement files' higher sequence would " +
            "outrank it and resurrect rows, refusing")
        headSnap.deletes.filter(_.seq > prevSeq).foreach { d =>
          if (deleteFileRefs(spark, d).exists(rewrittenRaw.contains))
            throw new java.util.ConcurrentModificationException(
              s"rewriteDataFiles on $base raced a row-level delete " +
              "referencing a rewritten file — its positions would be " +
              "lost, refusing")
        }
      },
      buildRefs = (head, newId) => {
        val headSnap = snapshot(spark, base,
          Some(head.get("current-snapshot-id").asLong()))
        val headSurvivors =
          headSnap.files.filterNot(f => rewrittenRaw.contains(f.rawPath))
        carryManifestsWithout(spark, base, head, rewrittenRaw,
          headSurvivors) :+
          ManifestRef(mFile, 0, newId, newId, snap.defaultSpecId)
      })
    val committed = commitManifestListSnapshot(base, prev,
      carried :+ ManifestRef(mFile, 0, snapshotId, snapshotId,
        snap.defaultSpecId),
      snapshotId, id, "replace", rebase = Some(rebase))
    refreshNdvStatsIfPresent(spark, base)
    committed
  }

  /** Compaction hook: a table that carries theta NDV statistics gets
    * them recomputed at the new snapshot (Iceberg's own ANALYZE-on-
    * maintenance habit) — the stats file is how downstream planners
    * pick broadcast sides, and compaction is the natural refresh
    * point. Columns whose field ids no longer resolve (dropped) fall
    * out silently. No-op for tables without statistics. */
  private def refreshNdvStatsIfPresent(spark: SparkSession,
                                       base: String): Unit = {
    val meta = readMeta(base)
    val stats = Option(meta.get("statistics")).getOrElse(return)
    if (stats.size() == 0) return
    val schema = schemaFromMeta(meta, base)
    val nameByFid: Map[Int, String] = schema.fields.flatMap(f =>
      if (f.metadata.contains("parquet.field.id"))
        Some(f.metadata.getLong("parquet.field.id").toInt -> f.name)
      else None).toMap
    val cols = (0 until stats.size()).map(stats.get).flatMap { s =>
      val bm = s.get("blob-metadata")
      (0 until bm.size()).map(bm.get).flatMap { b =>
        val fs = b.get("fields")
        if (fs.size() == 1) nameByFid.get(fs.get(0).asInt()) else None
      }
    }.distinct
    if (cols.nonEmpty) { computeNdvStats(spark, base, cols); () }
  }

  /** The current snapshot's manifests with the `rewrittenRaw` data
    * files filtered OUT (by manifest-recorded file_path) and dead
    * delete files dropped — a position-delete file whose referenced
    * data files were all rewritten, or an equality-delete file with no
    * surviving data file strictly below its sequence. Untouched
    * manifests carry as-is (original file, original sequence — the
    * property that keeps survivors' delete gating exact); mixed ones
    * become filtered copies under the original sequence. Shared by
    * compaction and the copy-on-write UPDATE. */
  private def carryManifestsWithout(spark: SparkSession, base: String,
                                    prev: JsonNode,
                                    rewrittenRaw: Set[String],
                                    survivors: Seq[DataFileEntry]): Seq[ManifestRef] = {
    val metaDir = metadataDir(base)
    def keepDeleteEntry(dfr: GenericRecord, manifestSeq: Long): Boolean = {
      val content = opt(dfr, "content").map(_.toString.toInt).getOrElse(0)
      val path = resolvePath(base, dfr.get("file_path").toString)
      if (content == 1) {
        // v3 deletion vectors name their one target in the entry
        // itself — dead iff that file was rewritten (pure metadata)
        opt(dfr, "referenced_data_file").map(_.toString) match {
          case Some(ref) => return !rewrittenRaw.contains(ref)
          case None =>
        }
        // position deletes: dead iff every referenced data file was
        // rewritten (one bounded distinct per delete file)
        val refs =
          try spark.read.parquet(path).select("file_path").distinct()
            .collect().map(_.getString(0)).toSet
          catch { case _: Exception => return true } // conservative
        !refs.subsetOf(rewrittenRaw)
      } else {
        // equality deletes: live iff a surviving data file sits
        // STRICTLY below the delete's sequence
        survivors.exists(_.seq < manifestSeq)
      }
    }
    currentManifests(base, prev).flatMap { m =>
      val (sch, recs) = readAvroWithSchema(m.file)
      // spec v3 §Row Lineage: a filtered REWRITE of a lineage-carrying
      // data manifest must stamp each kept entry's resolved
      // first_row_id EXPLICITLY — dropping entries would shift the
      // inheritance offsets of everything after them
      if (m.content == 0 && m.firstRowId.isDefined &&
          sch.getField("data_file").schema()
            .getField("first_row_id") != null) {
        var off = 0L
        recs.filter(_.get("status").toString.toInt != 2).foreach { e =>
          val dfr = e.get("data_file").asInstanceOf[GenericRecord]
          if (opt(dfr, "content").map(_.toString.toInt).getOrElse(0) == 0 &&
              opt(dfr, "first_row_id").isEmpty) {
            dfr.put("first_row_id",
              java.lang.Long.valueOf(m.firstRowId.get + off))
            off += math.max(0L,
              opt(dfr, "record_count").map(_.toString.toLong).getOrElse(0L))
          }
        }
      }
      val kept = recs.filter { e =>
        e.get("status").toString.toInt != 2 && {
          val dfr = e.get("data_file").asInstanceOf[GenericRecord]
          if (m.content == 0)
            !rewrittenRaw.contains(dfr.get("file_path").toString)
          else keepDeleteEntry(dfr, m.seq)
        }
      }
      if (kept.size == recs.size) Some(m)
      else if (kept.isEmpty) None
      else {
        val nf = TableIO.join(metaDir,
          s"manifest-filtered-${UUID.randomUUID()}.avro")
        writeAvro(nf, sch, kept)
        Some(m.copy(file = nf))
      }
    }
  }

  /** CONVERT a Delta table into a NEW Iceberg table, zero copy (the
    * reverse of `DeltaInterop.convertFromIceberg`; the shape of
    * Iceberg's own `snapshot`/`migrate` actions): one manifest
    * references the Delta table's live parquet by ABSOLUTE path, and
    * each add's recorded `stats` JSON decodes into the manifest's
    * per-file record counts and bounds — so `readRange` prunes from the
    * first scan without opening a footer (a stats-less add falls back
    * to one driver footer read for its record count, which the spec
    * REQUIRES to be real). Live deletion vectors CARRY: DV ordinals and
    * Iceberg position deletes share one coordinate system (parquet row
    * index), so soft-deleted state translates into a position-delete
    * file + content=1 manifest — no purge, no data file rewritten.
    * Partitioned tables carry via spec §Column Projection (identity
    * tuples in the manifests; the read path fills the column per file).
    * Refused: column mapping (Iceberg resolves by field id; a mapped
    * table's physical names don't carry). The source stays intact and
    * independently writable; shared-files hazard as with any zero-copy
    * convert. */
  /** One data manifest over converted file specs — (absolute path,
    * optional Delta-style stats JSON, identity partition values).
    * Entries decode the source's stats into Iceberg bounds and carry
    * per-file partition records; an identity-partitioned file is
    * single-valued on its partition columns, so those values double as
    * bounds and readRange prunes on them (Delta's adds never carry
    * stats for partition columns). Returns (manifestPath, total record
    * count). Shared by the one-shot CONVERT and the UniForm sync. */
  private def writeConvertManifest(
      spark: SparkSession, metaDir: String, schema: StructType,
      partTypes: Seq[(String, DataType)], idOf: String => Long,
      files: Seq[(String, Option[String], Map[String, String])],
      snapshotId: Long, id: String,
      // Delta stats JSON keys per logical column — column-mapped
      // tables key their stats by PHYSICAL name
      statsNameOf: String => String = identity): (String, Long) = {
    // one add's stats JSON → (recordCount, bounds) in Iceberg's
    // single-value binary form; min+max land together or not at all
    def decodeStats(stats: Option[String])
        : (Option[Long], Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
      val node = stats.flatMap(s =>
        try Some(mapper.readTree(s)) catch { case _: Exception => None })
      val n = node.flatMap(j => Option(j.get("numRecords")).map(_.asLong()))
      val lo = Map.newBuilder[Int, Array[Byte]]
      val hi = Map.newBuilder[Int, Array[Byte]]
      def typed(dt: DataType, v: JsonNode): Option[Any] =
        try dt match {
          case IntegerType => Some(Int.box(v.asInt()))
          case LongType => Some(Long.box(v.asLong()))
          case FloatType => Some(Float.box(v.asDouble().toFloat))
          case DoubleType => Some(Double.box(v.asDouble()))
          case StringType => Some(v.asText())
          case DateType => Some(java.sql.Date.valueOf(v.asText()))
          case TimestampType => Some(java.sql.Timestamp.from(
            java.time.Instant.parse(v.asText())))
          case _: DecimalType =>
            Some(new java.math.BigDecimal(v.asText()))
          case _ => None
        } catch { case _: Exception => None }
      node.foreach { j =>
        val mns = Option(j.get("minValues")); val mxs = Option(j.get("maxValues"))
        schema.fields.foreach { f =>
          for (mn <- mns.flatMap(o => Option(o.get(statsNameOf(f.name))));
               mx <- mxs.flatMap(o => Option(o.get(statsNameOf(f.name))));
               lv <- typed(f.dataType, mn); hv <- typed(f.dataType, mx);
               lb <- SingleValue.encode(f.dataType, lv);
               hb <- SingleValue.encode(f.dataType, hv)) {
            lo += idOf(f.name).toInt -> lb
            hi += idOf(f.name).toInt -> hb
          }
        }
      }
      (n, lo.result(), hi.result())
    }
    val entrySchema = entrySchemaFor(partTypes)
    val entries = files.map { case (abs, stats, partitionValues) =>
      val (n, lo0, hi0) = decodeStats(stats)
      val (lo, hi) = partTypes.foldLeft((lo0, hi0)) {
        case ((l, h), (c, dt)) =>
          val typed = Option(partitionValues.getOrElse(c, null)).flatMap {
            s => try dt match {
              case IntegerType => Some(Int.box(s.toInt))
              case LongType => Some(Long.box(s.toLong))
              case DoubleType => Some(Double.box(s.toDouble))
              case StringType => Some(s)
              case DateType => Some(java.sql.Date.valueOf(s))
              case _ => None
            } catch { case _: Exception => None }
          }
          typed.flatMap(v => SingleValue.encode(dt, v)) match {
            case Some(b) =>
              (l + (idOf(c).toInt -> b), h + (idOf(c).toInt -> b))
            case None => (l, h)
          }
      }
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1); rec.put("snapshot_id", snapshotId)
      val dfSchema = entrySchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 0)
      dfr.put("file_path", abs)
      dfr.put("file_format", "PARQUET")
      dfr.put("record_count",
        n.getOrElse(footerRowCount(spark, abs))) // spec: must be real
      dfr.put("file_size_in_bytes", io.length(abs))
      if (lo.nonEmpty) {
        dfr.put("lower_bounds", avroBounds(dfSchema, "lower_bounds", lo))
        dfr.put("upper_bounds", avroBounds(dfSchema, "upper_bounds", hi))
      }
      if (partTypes.nonEmpty) {
        val pr = new GenericData.Record(dfSchema.getField("partition").schema())
        partTypes.foreach { case (c, dt) =>
          pr.put(c, parsePartitionValue(dt, partitionValues.getOrElse(c, null)))
        }
        dfr.put("partition", pr)
      }
      rec.put("data_file", dfr)
      rec
    }
    val mFile = TableIO.join(metaDir, s"manifest-$id.avro")
    writeAvro(mFile, entrySchema, entries)
    val totalRecords = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").toString.toLong).sum
    (mFile, totalRecords)
  }

  /** Translated merge-on-read position deletes (data-file abs path →
    * deleted row ordinals): one sorted (file_path, pos) parquet + one
    * content=1 manifest at `seq` (a position delete applies to data
    * sequences ≤ its own). Shared by CONVERT (seq = snapshot 1) and
    * the UniForm sync (seq = the publishing snapshot's sequence). */
  private def writePositionDeleteManifest(
      spark: SparkSession, base: String, metaDir: String,
      positionDeletes: Seq[(String, Seq[Long])],
      snapshotId: Long, seq: Long, id: String): Option[ManifestRef] = {
    if (positionDeletes.isEmpty) return None
    import spark.implicits._
    val rows = positionDeletes.flatMap { case (p, ps) =>
      ps.distinct.map(pos => (p, pos)) }.sorted
    val delFile = stageOne(rows.toDF("file_path", "pos"), base,
      s".stage_conv_$id", s"delete-conv-$id.parquet")
    val delSchema = entrySchemaFor(Seq.empty)
    val rec = new GenericData.Record(delSchema)
    rec.put("status", 1); rec.put("snapshot_id", snapshotId)
    val dfr = new GenericData.Record(
      delSchema.getField("data_file").schema())
    dfr.put("content", 1) // position deletes
    dfr.put("file_path", PathCodec.absNorm(delFile))
    dfr.put("file_format", "PARQUET")
    dfr.put("record_count", rows.size.toLong)
    dfr.put("file_size_in_bytes", io.length(delFile))
    rec.put("data_file", dfr)
    val dmFile = TableIO.join(metaDir, s"manifest-del-$id.avro")
    writeAvro(dmFile, delSchema, Seq(rec))
    Some(ManifestRef(dmFile, 1, seq, snapshotId, 0))
  }

  def convertFromDelta(spark: SparkSession, deltaBase: String,
                       dstBase: String, formatVersion: Int = 2,
                       trackUniform: Boolean = false): Long = {
    val snap = DeltaInterop.snapshot(spark, deltaBase)
    // column-mapped sources CONVERT zero-copy too: the Iceberg field
    // ids become the source's MAPPING ids (both are rename-stable), the
    // name mapping (or, in id mode, the parquet field ids the files
    // already carry) resolves the files' physical columns, and stats
    // decode under their physical keys
    val mapped = snap.columnMappingMode != "none"
    val idMode = snap.columnMappingMode == "id"
    val idOfOpt: Option[String => Long] =
      if (!mapped) None
      else Some(n => snap.fieldId(n).getOrElse(
        throw new IllegalStateException(
          s"CONVERT of $deltaBase: mapped column '$n' lacks " +
          "delta.columnMapping.id — corrupt metadata (refusing)")))
    val physOf: String => String =
      if (!mapped) identity else snap.physicalName
    val lastColOpt: Option[Long] =
      if (!mapped) None
      else Some(snap.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong)
        .getOrElse(snap.schema.fieldNames.map(n => idOfOpt.get(n)).max))
    val schema = StructType(snap.schema.fields.map(f =>
      f.copy(metadata = new MetadataBuilder().build())))
    // Partitioned Delta tables keep partition columns OUT of their data
    // files. That's fine zero-copy: the spec's identity layout stores
    // each file's partition tuple in the MANIFEST, and §Column
    // Projection says a field id absent from a data file resolves from
    // that tuple when an identity partition field exists for it — the
    // same contract Iceberg's own Hive-table migration rides. We write
    // the identity spec + per-file partition records here; the read
    // path fills the columns per file.
    val partTypes: Seq[(String, DataType)] =
      deltaIdentityPartTypes(schema, snap.partitionColumns,
        s"CONVERT of $deltaBase")
    // mapped adds key partitionValues by PHYSICAL name; the manifests'
    // partition records key by the spec's (logical) field names
    val pvLogical: Map[String, String] =
      snap.partitionColumns.map(c => snap.physicalName(c) -> c).toMap
    val fileSpecs = snap.files.map { f =>
      (PathCodec.absNorm(DeltaInterop.resolveDataFile(deltaBase, f.path)),
        f.stats,
        f.partitionValues.map { case (k, v) =>
          pvLogical.getOrElse(k, k) -> v })
    }
    // live deletion vectors CARRY: Delta DV ordinals and Iceberg
    // position deletes share one coordinate system (parquet row index),
    // so the soft-deleted state translates into the target's own
    // merge-on-read encoding — no purge, no data file rewritten.
    //  - v2 target: positions decode driver-side (bitmap-sized, the
    //    same scale every DV read pays) into one sorted delete parquet;
    //  - v3 target: the framed blob bytes pass through VERBATIM into a
    //    puffin file — the v3 spec adopted Delta's DV framing exactly
    //    so no decode happens at all.
    val dvFiles = snap.files.filter(_.dv.exists(_.cardinality > 0))
    val positionDeletes: Seq[(String, Seq[Long])] =
      if (formatVersion == 3) Seq.empty
      else dvFiles.map { f =>
        (PathCodec.absNorm(DeltaInterop.resolveDataFile(deltaBase, f.path)),
          DeltaInterop.resolveDvPositions(deltaBase, f.dv.get).toSeq)
      }
    val dvBlobs: Seq[(String, Array[Byte], Long)] =
      if (formatVersion != 3) Seq.empty
      else dvFiles.map { f =>
        (PathCodec.absNorm(DeltaInterop.resolveDataFile(deltaBase, f.path)),
          DeltaInterop.resolveDvBlobFrame(deltaBase, f.dv.get),
          f.dv.get.cardinality)
      }
    writeConvertedIceberg(spark, dstBase, schema, partTypes, fileSpecs,
      positionDeletes, formatVersion, dvBlobs,
      extraProps = if (trackUniform)
        Map(Uniform.TrackKey -> snap.version.toString) else Map.empty,
      idOfOpt = idOfOpt, physNameOf = physOf,
      omitNameMapping = idMode, lastColumnIdOpt = lastColOpt)
  }

  /** Identity partition columns → (name, type), refusing types without
    * a manifest partition-record mapping. */
  private def deltaIdentityPartTypes(
      schema: StructType, partitionColumns: Seq[String],
      label: String): Seq[(String, DataType)] =
    partitionColumns.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"$label: partition column $c missing from the schema"))
      f.dataType match {
        case IntegerType | LongType | DoubleType | StringType | DateType => ()
        case other => throw new IllegalArgumentException(
          s"$label: identity-partition type $other on '$c' has no " +
          "manifest partition-record mapping — rewrite to migrate")
      }
      c -> f.dataType
    }

  /** UniForm-style metadata maintenance (Delta's Universal Format —
    * the public `delta.universalFormat.enabledFormats` contract): make
    * the Iceberg metadata under `<base>/metadata` reflect the Delta
    * table AT THE SAME base, so Iceberg readers see every Delta commit
    * without a copy. The first call publishes the zero-copy conversion
    * in place; each later call publishes ONE new Iceberg snapshot per
    * catch-up:
    *  - append-only Delta progress (every previously-live file still
    *    live with identical DV state, schema unchanged) REUSES every
    *    existing manifest and adds one manifest for the new files —
    *    Iceberg's own incremental-commit shape, O(new files) metadata
    *    work no matter how large the table;
    *  - anything else (DELETE / UPDATE / OPTIMIZE / RESTORE /
    *    overwrite) publishes an `overwrite` snapshot over the current
    *    live set, live deletion vectors translated to position deletes
    *    (the shared CONVERT translation — no data file rewritten);
    *  - Delta schema changes evolve the Iceberg schema (metadata-only
    *    when no file moved — Iceberg's own shape). Unmapped tables:
    *    existing NAMES keep their field ids, new names mint past
    *    last-column-id. COLUMN-MAPPED tables: the Iceberg field ids
    *    ARE the mapping ids (both rename-stable), so RENAME and DROP
    *    mirror too — the name mapping tracks the files' physical
    *    column names (omitted in id mode, whose files carry the ids
    *    themselves). A type change must be an Iceberg-legal promotion
    *    either way.
    * The mirrored Delta version rides in the table properties
    * ([[Uniform.TrackKey]]) and each snapshot's summary; a sync that
    * finds itself current is a no-op, and a lost metadata race
    * re-reads and retries (the sync always converges on Delta HEAD).
    * Snapshot history is trimmed to `graft.uniform.keep-snapshots`
    * (default 20; ref-pinned and current snapshots always kept) so a
    * commit-per-minute table does not grow its mirror without bound. */
  private[graft] def syncUniformFromDelta(
      spark: SparkSession, base: String,
      preread: Option[DeltaInterop.DeltaSnapshot] = None): Long = {
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    TableIO.retryOnConflict(TableIO.RederiveRetries) { i =>
      val snap =
        if (i == 0) preread.getOrElse(DeltaInterop.snapshot(spark, base))
        else DeltaInterop.snapshot(spark, base)
      val enabled = Uniform.enabledFormats(snap)
      require(enabled.forall(_ == "iceberg"),
        s"UniForm sync of $base: enabledFormats " +
        s"'${enabled.mkString(",")}' — this engine mirrors to iceberg only")
      if (!io.exists(hint))
        convertFromDelta(spark, base, base, trackUniform = true)
      else {
        val meta = readMeta(base)
        require(meta.get("format-version").asInt() == 2,
          s"UniForm mirror at $base has format-version " +
          s"${meta.get("format-version").asInt()} — the sync publishes v2")
        val tracked = Option(meta.get("properties"))
          .flatMap(p => Option(p.get(Uniform.TrackKey)))
          .map(_.asText().toLong)
          .getOrElse(throw new IllegalStateException(
            s"$base already has Iceberg metadata NOT managed by UniForm " +
            "sync — refusing to overwrite a foreign table's metadata"))
        if (tracked >= snap.version) meta.get("current-snapshot-id").asLong()
        else publishUniformIncrement(spark, base, snap, meta, tracked)
      }
    }
  }

  private def publishUniformIncrement(
      spark: SparkSession, base: String,
      snap: DeltaInterop.DeltaSnapshot, meta: JsonNode,
      tracked: Long): Long = {
    val metaDir = metadataDir(base)
    val iceSchema = DataType.fromJson(icebergSchemaToSparkJson(meta))
      .asInstanceOf[StructType]
    val deltaSchema = StructType(snap.schema.fields.map(f =>
      f.copy(metadata = new MetadataBuilder().build())))
    def shape(s: StructType) = s.fields.map(f =>
      (f.name, f.dataType, f.nullable)).toSeq
    val schemaChanged = shape(iceSchema) != shape(deltaSchema)
    // the mirror's identity partition spec is pinned at enable time —
    // Delta changes partitioning only through a definition swap
    // (REPLACE TABLE), which needs a fresh mirror
    val (specId, specFields) = defaultSpecOf(meta)
    require(specFields.forall(_.transform == "identity") &&
        specFields.map(_.name) == snap.partitionColumns,
      s"UniForm sync of $base: the Delta partitioning " +
      s"(${snap.partitionColumns.mkString(",")}) no longer matches the " +
      s"mirror's spec (${specFields.map(_.name).mkString(",")}) — a " +
      "definition swap needs a fresh mirror")
    val partTypes = deltaIdentityPartTypes(deltaSchema,
      snap.partitionColumns, s"UniForm sync of $base")
    val mapped = snap.columnMappingMode != "none"
    val idMode = snap.columnMappingMode == "id"
    val physOf: String => String =
      if (!mapped) identity else snap.physicalName
    def legalPromotion(from: DataType, to: DataType): Boolean =
      (from, to) match {
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (a: DecimalType, b: DecimalType) =>
          b.scale == a.scale && b.precision >= a.precision
        case _ => false
      }
    // field ids. Unmapped: existing NAMES keep their ids, new names
    // mint past last-column-id (spec: ids are never reused) — renames
    // are impossible unmapped, so name identity is sound. Mapped: the
    // ids ARE the mapping ids (both rename-stable), so renames and
    // drops mirror as ordinary schema evolution. A type change must be
    // a legal promotion either way.
    val curIds: Map[String, Long] = iceSchema.fields.flatMap(f =>
      if (f.metadata.contains("parquet.field.id"))
        Some(f.name -> f.metadata.getLong("parquet.field.id")) else None
    ).toMap
    var lastColId = meta.get("last-column-id").asLong()
    val assignedIds: Map[String, Long] =
      if (mapped) {
        val m = deltaSchema.fields.map(f => f.name ->
          snap.fieldId(f.name).getOrElse(throw new IllegalStateException(
            s"UniForm sync of $base: mapped column '${f.name}' lacks " +
            "delta.columnMapping.id — corrupt metadata (refusing)"))).toMap
        lastColId = math.max(lastColId, m.values.max)
        m
      } else deltaSchema.fields.map { f =>
        f.name -> curIds.getOrElse(f.name, { lastColId += 1; lastColId })
      }.toMap
    if (mapped) {
      val iceById: Map[Long, StructField] = iceSchema.fields.flatMap(f =>
        if (f.metadata.contains("parquet.field.id"))
          Some(f.metadata.getLong("parquet.field.id") -> f) else None).toMap
      deltaSchema.fields.foreach { d =>
        iceById.get(assignedIds(d.name))
          .filter(_.dataType != d.dataType).foreach { cur =>
            require(legalPromotion(cur.dataType, d.dataType),
              s"UniForm sync of $base: column '${d.name}' changed " +
              s"${cur.dataType} -> ${d.dataType}, not an Iceberg-legal " +
              "type promotion (refusing)")
          }
      }
    } else iceSchema.fields.foreach { cur =>
      deltaSchema.fields.find(_.name == cur.name)
        .filter(_.dataType != cur.dataType).foreach { d =>
          require(legalPromotion(cur.dataType, d.dataType),
            s"UniForm sync of $base: column '${cur.name}' changed " +
            s"${cur.dataType} -> ${d.dataType}, not an Iceberg-legal " +
            "type promotion (refusing)")
        }
    }
    val idOf: String => Long = n => assignedIds.getOrElse(n,
      throw new IllegalArgumentException(
        s"no field '$n' in ${deltaSchema.fieldNames.mkString(",")}"))
    // fast path: every previously-live file still live with identical
    // DV state → append snapshot reusing every existing manifest
    def dvKeyOf(f: DeltaInterop.AddFile): String =
      f.dv.filter(_.cardinality > 0).map(d =>
        s"${d.pathOrInlineDv}:${d.offset.getOrElse(-1L)}:${d.cardinality}")
        .getOrElse("")
    val newFiles: Seq[(DeltaInterop.AddFile, String)] = snap.files.map(f =>
      (f, PathCodec.absNorm(DeltaInterop.resolveDataFile(base, f.path))))
    val newByPath: Map[String, String] =
      newFiles.map { case (f, abs) => abs -> dvKeyOf(f) }.toMap
    // the tracked version replays from the SAME log (time travel); a
    // log whose tail was cleaned past it degrades to the full rebuild
    val prevDelta: Option[DeltaInterop.DeltaSnapshot] =
      try Some(DeltaInterop.snapshot(spark, base, Some(tracked)))
      catch { case scala.util.control.NonFatal(_) => None }
    val prevPaths: Set[String] = prevDelta.map(_.files.map(f =>
      PathCodec.absNorm(DeltaInterop.resolveDataFile(base, f.path))).toSet)
      .getOrElse(Set.empty)
    val filesCarried = prevDelta.exists(_.files.forall { f =>
      val abs = PathCodec.absNorm(DeltaInterop.resolveDataFile(base, f.path))
      newByPath.get(abs).contains(dvKeyOf(f))
    })
    val appendOnly = !schemaChanged && filesCarried
    val added = newFiles.filter { case (_, abs) => !prevPaths.contains(abs) }
    // mapped adds key partitionValues by PHYSICAL name; the manifests'
    // partition records key by the spec's (logical) field names
    val pvLogical: Map[String, String] =
      snap.partitionColumns.map(c => snap.physicalName(c) -> c).toMap
    def specOf(f: DeltaInterop.AddFile, abs: String) =
      (abs, f.stats,
        f.partitionValues.map { case (k, v) =>
          pvLogical.getOrElse(k, k) -> v })
    // the evolved-schema publisher, shared by the metadata-only path
    // (a pure Delta rename/widen/mapping upgrade — no snapshot needed)
    // and the snapshot path
    def attachEvolvedSchema(
        root: com.fasterxml.jackson.databind.node.ObjectNode): Int = {
      val ss = root.get("schemas")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val newSid = (0 until ss.size())
        .map(ss.get(_).get("schema-id").asInt()).max + 1
      ss.add(schemaNodeWith(deltaSchema, idOf, newSid))
      root.put("current-schema-id", newSid)
      root.put("last-column-id", lastColId)
      if (!idMode) {
        // refresh the name mapping — the files resolve by their
        // physical column names (logical names when unmapped)
        val nm = mapper.createArrayNode()
        deltaSchema.fields.foreach { f =>
          val e = nm.addObject()
          e.put("field-id", idOf(f.name))
          e.putArray("names").add(physOf(f.name))
        }
        root.get("properties")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("schema.name-mapping.default",
            mapper.writeValueAsString(nm))
      }
      newSid
    }
    if (schemaChanged && filesCarried && added.isEmpty) {
      // metadata-only Delta change: evolve the mirror schema WITHOUT a
      // snapshot (Iceberg's own shape for schema evolution)
      val root = meta.deepCopy()
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      attachEvolvedSchema(root)
      root.get("properties")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put(Uniform.TrackKey, snap.version.toString)
      root.put("last-updated-ms", clock())
      commitMetadataVersion(base, root, uniformManaged = true)
      return meta.get("current-snapshot-id").asLong()
    }
    if (appendOnly && added.isEmpty) {
      // property-only Delta commit (SET TBLPROPERTIES, CLUSTER BY, …):
      // no file, DV or schema change — advance the track key via a
      // metadata-only version instead of publishing an empty append
      // snapshot (one per property commit is pointless manifest churn)
      val root = meta.deepCopy()
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      root.get("properties")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put(Uniform.TrackKey, snap.version.toString)
      root.put("last-updated-ms", clock())
      commitMetadataVersion(base, root, uniformManaged = true)
      return meta.get("current-snapshot-id").asLong()
    }
    val fastPath = appendOnly &&
      added.forall(_._1.dv.forall(_.cardinality == 0))
    val id = UUID.randomUUID().toString
    val newSnapId = nextSnapshotId(meta)
    val newSeq = meta.get("last-sequence-number").asLong() + 1
    val (mlRefs, op) =
      if (fastPath) {
        val specs = added.map { case (f, abs) => specOf(f, abs) }
        val (mFile, _) = writeConvertManifest(spark, metaDir,
          deltaSchema, partTypes, idOf, specs, newSnapId, id,
          statsNameOf = physOf)
        (currentManifests(base, meta) :+
          ManifestRef(mFile, 0, newSeq, newSnapId, specId), "append")
      } else {
        val specs = newFiles.map { case (f, abs) => specOf(f, abs) }
        val (mFile, _) = writeConvertManifest(spark, metaDir,
          deltaSchema, partTypes, idOf, specs, newSnapId, id,
          statsNameOf = physOf)
        val positionDeletes = snap.files
          .filter(_.dv.exists(_.cardinality > 0)).map { f =>
            (PathCodec.absNorm(DeltaInterop.resolveDataFile(base, f.path)),
              DeltaInterop.resolveDvPositions(base, f.dv.get).toSeq)
          }
        val delRef = writePositionDeleteManifest(spark, base, metaDir,
          positionDeletes, newSnapId, newSeq, id)
        (ManifestRef(mFile, 0, newSeq, newSnapId, specId) +: delRef.toSeq,
          "overwrite")
      }
    val mlFile = TableIO.join(metaDir, s"snap-$newSnapId-$id.avro")
    writeManifestList(mlFile, mlRefs)
    val root = meta.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val committedAtMs = clock()
    root.put("last-sequence-number", newSeq)
    root.put("last-updated-ms", committedAtMs)
    val propsNode = root.get("properties")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemaIdUsed =
      if (!schemaChanged) meta.get("current-schema-id").asInt()
      else attachEvolvedSchema(root)
    propsNode.put(Uniform.TrackKey, snap.version.toString)
    val parentId = meta.get("current-snapshot-id").asLong()
    val snapsArr = root.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val snapNode = snapsArr.addObject()
    snapNode.put("snapshot-id", newSnapId)
    if (parentId > 0) snapNode.put("parent-snapshot-id", parentId)
    snapNode.put("sequence-number", newSeq)
    snapNode.put("timestamp-ms", committedAtMs)
    snapNode.put("manifest-list", PathCodec.absNorm(mlFile))
    val sm = snapNode.putObject("summary")
    sm.put("operation", op)
    sm.put(Uniform.TrackKey, snap.version.toString)
    snapNode.put("schema-id", schemaIdUsed)
    root.put("current-snapshot-id", newSnapId)
    // bounded history: keep the newest K snapshots plus anything a ref
    // pins. Metadata-only (like expireSnapshots' node trim) — orphaned
    // manifest lists stay on disk for a storage-side sweep; the Delta
    // VACUUM never touches the mirror directories.
    val keep = Option(propsNode.get("graft.uniform.keep-snapshots"))
      .map(_.asText().toInt).getOrElse(20)
    val pinned: Set[Long] = Option(root.get("refs")).map { r =>
      val it = r.fields(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next().getValue.get("snapshot-id").asLong()
      b.result()
    }.getOrElse(Set.empty) + newSnapId
    if (snapsArr.size() > keep) {
      val all = (0 until snapsArr.size()).map(snapsArr.get)
      val keepIds = all.sortBy(s => (s.get("sequence-number").asLong(),
          s.get("snapshot-id").asLong()))
        .takeRight(keep).map(_.get("snapshot-id").asLong()).toSet ++ pinned
      val survivors = all.filter(s =>
        keepIds.contains(s.get("snapshot-id").asLong()))
      if (survivors.size < all.size) {
        val na = mapper.createArrayNode()
        survivors.foreach(na.add)
        root.set[JsonNode]("snapshots", na)
      }
    }
    commitMetadataVersion(base, root, uniformManaged = true)
    newSnapId
  }

  /** Shared tail of every zero-copy convert INTO Iceberg (Delta tables,
    * graft-log tables, plain parquet): build one manifest referencing
    * `files` — (absolute path, optional Delta-style stats JSON,
    * identity partition values) — plus the v1 metadata with a name
    * mapping (the sources' parquet carries no field ids).
    * `positionDeletes` (data-file abs path → deleted row ordinals)
    * carries the SOURCE's merge-on-read state: Delta deletion vectors
    * are positionally identical to Iceberg position deletes, so they
    * translate into one sorted delete parquet + a content=1 manifest at
    * the same sequence as the data (a position delete applies to data
    * sequences ≤ its own) — no data file is rewritten. */
  private[graft] def writeConvertedIceberg(
      spark: SparkSession, dstBase: String, schema: StructType,
      partTypes: Seq[(String, DataType)],
      files: Seq[(String, Option[String], Map[String, String])],
      positionDeletes: Seq[(String, Seq[Long])] = Seq.empty,
      formatVersion: Int = 2,
      dvBlobs: Seq[(String, Array[Byte], Long)] = Seq.empty,
      extraProps: Map[String, String] = Map.empty,
      // column-mapped Delta sources: field ids = the mapping ids
      // (stable across renames), stats/file columns under PHYSICAL
      // names; id-mode files carry the ids themselves so the name
      // mapping is omitted entirely
      idOfOpt: Option[String => Long] = None,
      physNameOf: String => String = identity,
      omitNameMapping: Boolean = false,
      lastColumnIdOpt: Option[Long] = None): Long = {
    require(formatVersion == 2 || formatVersion == 3,
      s"format-version $formatVersion (this writer speaks 2 and 3)")
    require(dvBlobs.isEmpty || formatVersion == 3,
      "deletion-vector blobs need a format-v3 target")
    require(positionDeletes.isEmpty || formatVersion == 2,
      "v3 forbids position-delete files — pass dvBlobs instead")
    val metaDir = metadataDir(dstBase)
    require(!io.exists(TableIO.join(metaDir, "version-hint.text")),
      s"convert target is already an Iceberg table: $dstBase")
    val idOf = idOfOpt.getOrElse(positionalIdOf(schema))
    io.mkdirs(metaDir)
    val id = UUID.randomUUID().toString
    val snapshotId = 1L
    val (mFile, totalRecords) = writeConvertManifest(spark, metaDir,
      schema, partTypes, idOf, files, snapshotId, id,
      statsNameOf = physNameOf)
    // v3 targets: the source's deletion vectors carry as ONE puffin
    // file, each blob's bytes VERBATIM (the Delta frame is already a
    // puffin deletion-vector-v1 blob — see Puffin's scaladoc), plus a
    // content=1 manifest of DV entries at the data's sequence
    val dvRefs: Seq[ManifestRef] =
      if (dvBlobs.isEmpty) Seq.empty
      else {
        val dataDir = TableIO.join(dstBase, "data"); io.mkdirs(dataDir)
        val (bytes, locs) =
          Puffin.dvFileBytesFramed(dvBlobs, snapshotId, snapshotId)
        val pufFile = TableIO.join(dataDir, s"dv-conv-$id.puffin")
        io.writeBytes(pufFile, bytes)
        val delSchema = entrySchemaFor(Seq.empty)
        val recs = locs.map { l =>
          val rec = new GenericData.Record(delSchema)
          rec.put("status", 1); rec.put("snapshot_id", snapshotId)
          val dfr = new GenericData.Record(
            delSchema.getField("data_file").schema())
          dfr.put("content", 1)
          dfr.put("file_path", PathCodec.absNorm(pufFile))
          dfr.put("file_format", "PUFFIN")
          dfr.put("record_count", l.cardinality)
          dfr.put("file_size_in_bytes", io.length(pufFile))
          dfr.put("referenced_data_file", l.referencedDataFile)
          dfr.put("content_offset", l.offset)
          dfr.put("content_size_in_bytes", l.length)
          rec.put("data_file", dfr)
          rec
        }
        val dmFile = TableIO.join(metaDir, s"manifest-del-$id.avro")
        writeAvro(dmFile, delSchema, recs)
        Seq(ManifestRef(dmFile, 1, snapshotId, snapshotId, 0))
      }
    // translated merge-on-read deletes: one sorted (file_path, pos)
    // parquet + one content=1 manifest, both at the data's sequence
    val deleteRefs: Seq[ManifestRef] = dvRefs ++
      writePositionDeleteManifest(spark, dstBase, metaDir,
        positionDeletes, snapshotId, snapshotId, id)
    val mlFile = TableIO.join(metaDir, s"snap-$snapshotId-$id.avro")
    // spec v3 §Row Lineage: converted files take ids 0..N-1 by
    // manifest-list inheritance (one field, no per-entry stamping)
    writeManifestList(mlFile,
      ManifestRef(mFile, 0, snapshotId, snapshotId, 0,
        firstRowId = if (formatVersion >= 3) Some(0L) else None) +: deleteRefs)
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    if (formatVersion >= 3) root.put("next-row-id", totalRecords)
    root.put("table-uuid", UUID.randomUUID().toString)
    root.put("location", dstBase)
    val propsNode = root.putObject("properties")
    if (!omitNameMapping) {
      // unless the files carry parquet field ids themselves (id-mode
      // Delta sources), record the spec's name mapping so readers
      // resolve by the files' COLUMN NAMES — the source's physical
      // names for mapped tables, the logical names otherwise (spec
      // §Name Mapping Serialization); snapshot() honors it
      val nm = mapper.createArrayNode()
      schema.fields.foreach { f =>
        val e = nm.addObject()
        e.put("field-id", idOf(f.name))
        e.putArray("names").add(physNameOf(f.name))
      }
      propsNode.put("schema.name-mapping.default",
        mapper.writeValueAsString(nm))
    }
    extraProps.toSeq.sortBy(_._1).foreach { case (k, v) =>
      propsNode.put(k, v) }
    root.put("last-sequence-number", snapshotId)
    root.put("last-updated-ms", clock())
    root.put("last-column-id",
      lastColumnIdOpt.getOrElse(schema.size.toLong))
    root.put("current-schema-id", 0)
    root.putArray("schemas").add(schemaNodeWith(schema, idOf, 0))
    root.put("default-spec-id", 0)
    val spec0 = root.putArray("partition-specs").addObject()
    spec0.put("spec-id", 0)
    val specFieldsNode = spec0.putArray("fields")
    partTypes.zipWithIndex.foreach { case ((c, _), i) =>
      val fn = specFieldsNode.addObject()
      fn.put("name", c)
      fn.put("transform", "identity")
      fn.put("source-id", idOf(c))
      fn.put("field-id", 1000 + i)
    }
    root.put("last-partition-id", 999 + partTypes.size)
    root.put("default-sort-order-id", 0)
    val so = root.putArray("sort-orders").addObject()
    so.put("order-id", 0); so.putArray("fields")
    root.put("current-snapshot-id", snapshotId)
    val sn = root.putArray("snapshots").addObject()
    sn.put("snapshot-id", snapshotId)
    sn.put("sequence-number", snapshotId)
    if (formatVersion >= 3) sn.put("first-row-id", 0L)
    sn.put("timestamp-ms", root.get("last-updated-ms").asLong())
    sn.put("manifest-list", PathCodec.absNorm(mlFile))
    sn.putObject("summary").put("operation", "append")
    sn.put("schema-id", 0)
    attachMetadataLogs(dstBase, 1L, root,
      root.get("last-updated-ms").asLong())
    val tmp = TableIO.join(metaDir, s".tmp_${UUID.randomUUID()}")
    io.writeString(tmp, mapper.writeValueAsString(root))
    require(io.putIfAbsent(tmp, TableIO.join(metaDir, "v1.metadata.json")),
      s"convert target raced another writer: $dstBase")
    io.writeString(TableIO.join(metaDir, "version-hint.text"), "1")
    snapshotId
  }

  /** Atomically publish `node` as the next vN.metadata.json + hint —
    * the commit step every metadata-only operation shares. */
  /** Spec §Table Metadata: rebuild `metadata-log` (previous metadata
    * files, newest last, trimmed to write.metadata
    * .previous-versions-max) and `snapshot-log` (current-snapshot-id
    * history — the input to TIMESTAMP AS OF) on the node about to
    * publish as `version`. Shared by BOTH metadata writers (the
    * snapshot publish path and the metadata-only commit), reading the
    * predecessor file so callers that build fresh roots need no
    * knowledge of either log. Returns the table properties (for the
    * retention step after publish). */
  private def attachMetadataLogs(
      base: String, version: Long,
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      timestampMs: Long): Map[String, String] = {
    val metaDir = metadataDir(base)
    val props: Map[String, String] = Option(node.get("properties")).map { p =>
      val it = p.fields(); val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }.getOrElse(Map.empty)
    val keepMax = props.get("write.metadata.previous-versions-max")
      .map(_.toInt).getOrElse(100)
    val prevFile = TableIO.join(metaDir, s"v${version - 1}.metadata.json")
    val prevMeta: Option[JsonNode] =
      if (version <= 1 || !io.exists(prevFile)) None
      else Some(mapper.readTree(io.readString(prevFile)))
    val mlog = node.putArray("metadata-log")
    prevMeta.foreach { pm =>
      val carried = Option(pm.get("metadata-log"))
        .map(a => (0 until a.size()).map(a.get)).getOrElse(Seq.empty)
      (carried :+ {
        val e = mapper.createObjectNode()
        e.put("timestamp-ms",
          Option(pm.get("last-updated-ms")).map(_.asLong()).getOrElse(0L))
        e.put("metadata-file", PathCodec.absNorm(prevFile))
        (e: JsonNode)
      }).takeRight(keepMax).foreach(mlog.add)
    }
    val liveSnapIds: Set[Long] = Option(node.get("snapshots"))
      .map(ss => (0 until ss.size()).map(ss.get(_).get("snapshot-id").asLong())
        .toSet).getOrElse(Set.empty)
    val slog = node.putArray("snapshot-log")
    prevMeta.flatMap(pm => Option(pm.get("snapshot-log")))
      .map(a => (0 until a.size()).map(a.get)).getOrElse(Seq.empty)
      // expired snapshots leave the log (spec: entries may be trimmed
      // when their snapshot is no longer in the table)
      .filter(e => liveSnapIds.contains(e.get("snapshot-id").asLong()))
      .foreach(slog.add)
    val newCurrent = Option(node.get("current-snapshot-id")).map(_.asLong())
    val prevCurrent = prevMeta
      .flatMap(pm => Option(pm.get("current-snapshot-id")).map(_.asLong()))
    newCurrent.filter(c => c >= 0 && !prevCurrent.contains(c)).foreach { c =>
      val e = slog.addObject()
      e.put("timestamp-ms", timestampMs)
      e.put("snapshot-id", c)
    }
    props
  }

  /** Bounded metadata growth (write.metadata.delete-after-commit
    * .enabled): versions that fell out of the retained window go — at
    * 100 TB a table commits thousands of times and an unbounded vN
    * chain is real storage + listing cost. */
  private def pruneMetadataVersions(base: String, version: Long,
                                    props: Map[String, String]): Unit =
    if (props.get("write.metadata.delete-after-commit.enabled")
          .contains("true")) {
      val keepMax = props.get("write.metadata.previous-versions-max")
        .map(_.toInt).getOrElse(100)
      val metaDir = metadataDir(base)
      var k = version - keepMax - 1
      while (k >= 1 &&
             io.exists(TableIO.join(metaDir, s"v$k.metadata.json"))) {
        io.delete(TableIO.join(metaDir, s"v$k.metadata.json"))
        k -= 1
      }
    }

  private def commitMetadataVersion(
      base: String,
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      uniformManaged: Boolean = false): Long = {
    // UniForm mirrors are read-only on the Iceberg side (the sync is
    // the only writer): a metadata-only commit here — property set,
    // rollback, tag, expire — would diverge from the Delta table the
    // mirror is derived from and be erased by the next sync
    if (!uniformManaged &&
        Option(node.get("properties")).exists(_.has(Uniform.TrackKey)))
      throw new IllegalStateException(
        s"the Iceberg metadata at $base is a UniForm mirror of the " +
        "Delta table at the same location — it is read-only on the " +
        "Iceberg side; mutate the Delta table and the sync republishes")
    val metaDir = metadataDir(base)
    val hint = TableIO.join(metaDir, "version-hint.text")
    val version = io.readString(hint).trim.toLong + 1
    val props = attachMetadataLogs(base, version, node,
      Option(node.get("last-updated-ms")).map(_.asLong()).getOrElse(0L))
    val tmp = TableIO.join(metaDir, s".tmp_${UUID.randomUUID()}")
    io.writeString(tmp, mapper.writeValueAsString(node))
    // atomic put-if-absent = the metadata commit
    if (!io.putIfAbsent(tmp, TableIO.join(metaDir, s"v$version.metadata.json")))
      throw new java.util.ConcurrentModificationException(
        s"iceberg metadata v$version already exists in $base")
    io.writeString(hint, version.toString)
    pruneMetadataVersions(base, version, props)
    // Delta-mirror hook: the statement layer's drain republishes the
    // mirror of an Iceberg-primary table (one set-add; non-mirror
    // bases cost the drain one marker probe)
    DeltaMirror.markDirty(base)
    version
  }

  /** Next snapshot id: one past the MAX of all recorded ids — not
    * current+1, because after a rollback the current snapshot is an
    * ancestor and current+1 would collide with a rolled-over id. */
  private def nextSnapshotId(meta: JsonNode): Long = {
    val ss = meta.get("snapshots")
    (0 until ss.size()).map(i => ss.get(i).get("snapshot-id").asLong())
      .foldLeft(0L)(math.max) + 1
  }

  /** The `snapshots` metadata table: one row per recorded snapshot —
    * (snapshot_id, sequence_number, operation, is_current). Pure
    * metadata parse, no file I/O beyond the current metadata.json. */
  def snapshotsTable(spark: SparkSession, base: String): DataFrame = {
    val meta = readMeta(base)
    val cur = meta.get("current-snapshot-id").asLong()
    val ss = meta.get("snapshots")
    val rows = (0 until ss.size()).map(ss.get).map { s =>
      (s.get("snapshot-id").asLong(),
        Option(s.get("sequence-number")).map(_.asLong()).getOrElse(0L),
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText()).orNull,
        s.get("snapshot-id").asLong() == cur)
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "sequence_number", "operation", "is_current")
  }

  /** The `files` metadata table: one row per live data/delete file of
    * the current (or time-traveled) snapshot — content kind, record
    * count, sequence number, partition values. File paths are omitted
    * by design (UUID-named, nondeterministic); the deterministic
    * columns are what an auditing query aggregates anyway. Metadata
    * walk only — manifests, never data. */
  def filesTable(spark: SparkSession, base: String,
                 snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, base, snapshotId)
    // record counts come from the MANIFEST (spec field 103) — this
    // table must never open a data file
    val dataRows = snap.files.map { f =>
      ("data", f.recordCount, f.seq,
        f.partitionValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(","))
    }
    val delRows = snap.deletes.map(d =>
      ("position_deletes", d.recordCount, d.seq, "")) ++
      snap.eqDeletes.map(d =>
        ("equality_deletes", d.recordCount, d.seq, ""))
    import spark.implicits._
    (dataRows ++ delRows)
      .toDF("content", "record_count", "sequence_number", "partition")
  }

  /** The `partitions` metadata table: per-partition record count, file
    * count and total bytes of the CURRENT snapshot, straight from the
    * manifests' partition records + per-file counts (spec fields
    * 102/103/104) — never opens a data file, so at a million files
    * this is a metadata aggregation, not a scan. The first table to
    * read when diagnosing skew. */
  def partitionsTable(spark: SparkSession, base: String,
                      snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, base, snapshotId)
    import spark.implicits._
    snap.files
      .groupBy(f => f.partitionValues.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(","))
      .toSeq
      .map { case (part, fs) =>
        // file_size_in_bytes is optional in v1/hand-crafted manifests
        // (DataFileEntry defaults it to -1) — fall back to the actual
        // file length rather than summing sentinels into total_bytes
        (part, fs.map(_.recordCount).sum, fs.size.toLong,
          fs.map(f => if (f.sizeBytes >= 0) f.sizeBytes
                      else io.length(f.path)).sum)
      }
      .toDF("partition", "record_count", "file_count", "total_bytes")
  }

  /** The `refs` metadata table: every named ref + the implicit main. */
  def refsTable(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    val named = refs(base)
    (("main", "branch", resolveRef(base, "main")) +: named)
      .toDF("name", "type", "snapshot_id")
  }

  /** The `history` metadata table: when each snapshot became current
    * (commit order = the snapshots array; rollbacks append a new
    * current pointer rather than rewriting history). */
  def historyTable(spark: SparkSession, base: String): DataFrame = {
    val meta = readMeta(base)
    val cur = meta.get("current-snapshot-id").asLong()
    import spark.implicits._
    // Iceberg's `history` metadata table is the SNAPSHOT-LOG: one row
    // per time the table's current snapshot changed — a ROLLBACK
    // appears as its own entry re-naming the old id, which snapshot
    // creation times alone cannot express. Foreign tables without a
    // log fall back to creation order.
    val lg = Option(meta.get("snapshot-log"))
      .map(a => (0 until a.size()).map(a.get)).getOrElse(Seq.empty)
    val rows =
      if (lg.nonEmpty)
        lg.map(e => (e.get("timestamp-ms").asLong(),
          e.get("snapshot-id").asLong()))
      else {
        val snaps = meta.get("snapshots")
        (0 until snaps.size()).map { i =>
          val s = snaps.get(i)
          (s.get("timestamp-ms").asLong(), s.get("snapshot-id").asLong())
        }
      }
    rows.zipWithIndex.map { case ((ts, sid), i) =>
      (ts, sid, i == rows.size - 1 && sid == cur)
    }.toDF("made_current_at_ms", "snapshot_id", "is_current")
  }

  /** Rollback: point `current-snapshot-id` back at an existing snapshot
    * (Iceberg's `rollback_to_snapshot` procedure) — pure metadata, no
    * file is touched, and the rolled-back-over snapshots stay in the
    * table (still time-travelable, reclaimable later by
    * `expireSnapshots`). Refuses ids the table doesn't have. */
  def rollbackTo(base: String, snapshotId: Long): Long = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = meta.get("snapshots")
    val known = (0 until snaps.size())
      .map(i => snaps.get(i).get("snapshot-id").asLong())
    require(known.contains(snapshotId),
      s"snapshot $snapshotId not in $base (have $known)")
    meta.put("current-snapshot-id", snapshotId)
    // the rollback IS an event in time: its snapshot-log entry must
    // carry the rollback's clock, not the previous commit's
    meta.put("last-updated-ms", clock())
    commitMetadataVersion(base, meta)
  }

  /** Upgrade the table's format version in place (Iceberg's
    * `ALTER TABLE ... SET TBLPROPERTIES('format-version'='3')`) — a
    * metadata-only commit. v2 → v3 is always legal: existing
    * position-delete files stay readable, and the FIRST v3 delete that
    * touches a file folds its recorded positions into the new deletion
    * vector (commitDvDelete's legacy union). Downgrades refuse. */
  def upgradeFormatVersion(base: String, to: Int): Long = {
    require(to == 2 || to == 3, s"format-version $to (writer speaks 2 and 3)")
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val cur = meta.get("format-version").asInt()
    if (cur == to) return meta.get("current-snapshot-id").asLong()
    require(to > cur,
      s"cannot downgrade format-version $cur → $to (v3 state — deletion " +
      "vectors — has no v2 encoding)")
    meta.put("format-version", to)
    // spec v3 §Row Lineage: initialize the id space; pre-upgrade files
    // carry NO first_row_id, so their rows read _row_id NULL until a
    // rewrite materializes ids (the spec's lazy-upgrade contract)
    if (to == 3 && !meta.has("next-row-id")) meta.put("next-row-id", 0L)
    commitMetadataVersion(base, meta)
    meta.get("current-snapshot-id").asLong()
  }

  // -------------------------------------------------------------- refs

  /** Named refs (spec v2 `refs` map): a TAG pins a snapshot immutably
    * (reproducible reads — "the corpus we trained v3 on"), a BRANCH is
    * a movable pointer. Both PIN their snapshots against
    * `expireSnapshots` until the ref is dropped. Branch WRITES go through
    * `appendToBranch` (write-audit-publish): only the branch ref
    * moves; `fastForward`/`cherryPick` publish onto main. */
  def createTag(base: String, name: String, snapshotId: Long): Long =
    putRef(base, name, snapshotId, "tag", allowMove = false)

  def createBranch(base: String, name: String, snapshotId: Long): Long =
    putRef(base, name, snapshotId, "branch", allowMove = false)

  /** Move an existing branch (or create it): the fast-forward shape.
    * Tags refuse — they are immutable by contract. */
  def setBranch(base: String, name: String, snapshotId: Long): Long =
    putRef(base, name, snapshotId, "branch", allowMove = true)

  private def putRef(base: String, name: String, snapshotId: Long,
                     refType: String, allowMove: Boolean): Long = {
    require(name != "main", "'main' is the implicit current branch")
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = meta.get("snapshots")
    val known = (0 until snaps.size())
      .map(i => snaps.get(i).get("snapshot-id").asLong())
    require(known.contains(snapshotId),
      s"snapshot $snapshotId not in $base (have $known)")
    val refs =
      if (meta.has("refs"))
        meta.get("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else meta.putObject("refs")
    Option(refs.get(name)).foreach { existing =>
      require(allowMove && existing.get("type").asText() == "branch",
        s"ref '$name' already exists as a " +
        s"${existing.get("type").asText()} (tags are immutable; use " +
        "setBranch to move a branch)")
    }
    val r = refs.putObject(name)
    r.put("snapshot-id", snapshotId); r.put("type", refType)
    commitMetadataVersion(base, meta)
    snapshotId
  }

  /** Drop a ref; its snapshot becomes expirable again. */
  def dropRef(base: String, name: String): Unit = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    require(meta.has("refs") && meta.get("refs").has(name),
      s"no ref '$name' in $base")
    meta.get("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove(name)
    commitMetadataVersion(base, meta)
  }

  /** Resolve a ref name to its snapshot id ("main" = current). */
  def resolveRef(base: String, name: String): Long = {
    val meta = readMeta(base)
    if (name == "main") return meta.get("current-snapshot-id").asLong()
    Option(meta.get("refs")).flatMap(r => Option(r.get(name)))
      .map(_.get("snapshot-id").asLong())
      .getOrElse(throw new IllegalArgumentException(
        s"no ref '$name' in $base"))
  }

  /** All refs of a table: (name, type, snapshot-id). */
  def refs(base: String): Seq[(String, String, Long)] = {
    val meta = readMeta(base)
    import scala.jdk.CollectionConverters._
    Option(meta.get("refs")).map(_.fields().asScala.map { e =>
      (e.getKey, e.getValue.get("type").asText(),
        e.getValue.get("snapshot-id").asLong())
    }.toSeq).getOrElse(Seq.empty)
  }

  /** Read the table AS OF a named ref. */
  /** Attach per-row lineage to a coordinate-keeping scan of `files`
    * (produced with keepCoords = true and extraCols = lineageExtras):
    * ONE metadata-scale broadcast of (file → first_row_id, seq), then
    * `_row_id` / `_last_updated_sequence_number` resolve per row as
    * materialized-else-inherited. The single definition of id
    * resolution — reads, copy-on-write updates and compaction all call
    * this, so the mixed materialized/NULL case cannot diverge. */
  private def attachLineage(files: Seq[DataFileEntry],
                            scan: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = scan.sparkSession
    import spark.implicits._
    val lineage = files.map(f => (PathCodec.metadataPathKey(f.path),
      f.firstRowId, f.seq)).toDF("__ice_file", "__fri", "__seq")
    scan.join(broadcast(lineage), Seq("__ice_file"))
      .withColumn(RowIdCol,
        coalesce(col(RowIdCol), col("__fri") + col("__ice_pos")))
      .withColumn(LastUpdatedSeqCol,
        coalesce(col(LastUpdatedSeqCol), col("__seq")))
      .drop("__fri", "__seq")
  }

  /** Read with the row-lineage columns `_row_id` and
    * `_last_updated_sequence_number` attached (spec v3 §Row Lineage):
    * per row, the file's MATERIALIZED columns when present (rewritten
    * files carry their rows' original ids there), else
    * first_row_id + row position / the file's data sequence number.
    * Files with no assigned first_row_id (pre-upgrade files) read NULL
    * ids — the spec's lazy-upgrade contract. One broadcast of
    * (file → first_row_id, seq), metadata scale; the scan stays fully
    * distributed. DV deletes never move surviving rows, so
    * position-derived ids are stable across them by construction. */
  def readWithRowIds(spark: SparkSession, base: String,
                     snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, base, snapshotId)
    require(snap.formatVersion >= 3,
      s"row lineage is an Iceberg format-v3 feature " +
      s"($base is v${snap.formatVersion})")
    attachLineage(snap.files,
      assembleRead(spark, snap, snap.files, keepCoords = true,
        extraCols = lineageExtras))
      .drop("__ice_file", "__ice_pos")
  }

  def readRef(spark: SparkSession, base: String, name: String): DataFrame =
    read(spark, base, Some(resolveRef(base, name)))

  /** Schema evolution: ADD COLUMN, per the spec's evolution rules — a
    * NEW schema (schema-id +1) extends the current field list with the
    * new column under a fresh field id (`last-column-id` + 1, never
    * reused), `current-schema-id` moves, and no data file is touched:
    * files written before the evolution simply lack the new field id
    * and read back as NULL through the field-id projection the read
    * path already does. O(1) in table size. The new column is nullable
    * by construction. */
  def addColumn(base: String, name: String, dt: DataType,
                default: Option[Any] = None): Long = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    // spec v3 §Default values: initial-default (fills rows of files
    // that predate the column) + write-default (fills writers that
    // omit it) — both the same value here, the ADD COLUMN ... DEFAULT
    // shape. v3-only; name-mapped tables strip the field metadata the
    // read fill rides on, so they refuse.
    default.foreach { _ =>
      require(meta.get("format-version").asInt() >= 3,
        "column defaults are an Iceberg format-v3 feature (upgrade first)")
      require(!Option(meta.get("properties"))
          .exists(_.has("schema.name-mapping.default")),
        "column defaults on a name-mapped (converted) table are not " +
        "supported — the by-name resolution strips the default metadata")
    }
    val schemas = meta.get("schemas")
    val curId = meta.get("current-schema-id").asInt()
    val cur = (0 until schemas.size()).map(schemas.get)
      .find(_.get("schema-id").asInt() == curId)
      .getOrElse(throw new IllegalStateException(s"schema-id $curId not in $base"))
    val curFields = cur.get("fields")
    (0 until curFields.size()).foreach { i =>
      require(curFields.get(i).get("name").asText() != name,
        s"column '$name' already exists in $base")
    }
    val newFieldId = meta.get("last-column-id").asInt() + 1
    val newSchemaId = (0 until schemas.size())
      .map(i => schemas.get(i).get("schema-id").asInt()).max + 1
    val ns = schemas.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .addObject()
    ns.put("type", "struct"); ns.put("schema-id", newSchemaId)
    val nf = ns.putArray("fields")
    (0 until curFields.size()).foreach(i => nf.add(curFields.get(i)))
    val added = nf.addObject()
    added.put("id", newFieldId); added.put("name", name)
    added.put("required", false)
    added.put("type", sparkTypeToIceberg(dt))
    default.foreach { v =>
      def put(field: String): Unit = v match {
        case i: Int => added.put(field, i)
        case l: Long => added.put(field, l)
        case f: Float => added.put(field, f)
        case d: Double => added.put(field, d)
        case b: Boolean => added.put(field, b)
        case st: String => added.put(field, st)
        case other => throw new IllegalArgumentException(
          s"default value $other (${other.getClass.getSimpleName}) is " +
          "not a supported primitive")
      }
      put("initial-default"); put("write-default")
    }
    meta.put("current-schema-id", newSchemaId)
    meta.put("last-column-id", newFieldId)
    commitMetadataVersion(base, meta)
  }

  /** The current schema's fields of a metadata tree, plus the helpers
    * rename/drop share: both commit a NEW schema (schema-id +1) built
    * from the current field list — ids NEVER change or get reused, the
    * invariant Iceberg's by-id column resolution rests on. */
  private def evolveSchema(base: String, op: String)
                          (edit: Seq[JsonNode] => Seq[JsonNode]): Long = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemas = meta.get("schemas")
    val curId = meta.get("current-schema-id").asInt()
    val cur = (0 until schemas.size()).map(schemas.get)
      .find(_.get("schema-id").asInt() == curId)
      .getOrElse(throw new IllegalStateException(
        s"schema-id $curId not in $base"))
    val curFields =
      (0 until cur.get("fields").size()).map(cur.get("fields").get)
    val edited = edit(curFields)
    val newSchemaId = (0 until schemas.size())
      .map(i => schemas.get(i).get("schema-id").asInt()).max + 1
    val ns = schemas.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .addObject()
    ns.put("type", "struct"); ns.put("schema-id", newSchemaId)
    val nf = ns.putArray("fields")
    edited.foreach(nf.add)
    meta.put("current-schema-id", newSchemaId)
    commitMetadataVersion(base, meta)
  }

  /** Schema evolution: RENAME COLUMN — the field keeps its id (and so
    * every data file, bound, delete file and partition-spec source
    * written under the old name), only the name in the NEW schema
    * changes. O(1) in table size; this is exactly why Iceberg resolves
    * columns by id. */
  def renameColumn(base: String, from: String, to: String): Long = {
    // name-mapped tables (CONVERT sources without parquet field ids)
    // resolve BY NAME: renaming would silently read NULL from every
    // pre-rename file — the exact failure id-resolution prevents
    require(!Option(readMeta(base).get("properties"))
        .exists(_.has("schema.name-mapping.default")),
      s"RENAME on name-mapped table $base (converted from files " +
      "without parquet field ids) would silently null pre-rename " +
      "files — rewriteDataFiles first to stamp ids")
    evolveSchema(base, "rename") { fields =>
      require(fields.exists(_.get("name").asText() == from),
        s"no column '$from' in $base")
      require(!fields.exists(_.get("name").asText() == to),
        s"column '$to' already exists in $base")
      fields.map { f =>
        if (f.get("name").asText() == from) {
          val c = f.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
          c.put("name", to); c
        } else f
      }
    }
  }

  /** Schema evolution: TYPE PROMOTION (spec §Schema Evolution — the
    * three primitive widenings every Iceberg reader must serve:
    * int→long, float→double, decimal(P,S)→decimal(P',S) with P'>P).
    * Metadata-only: the field keeps its id, old data files keep their
    * narrower physical type and read through the wider one (Spark's
    * parquet reader widens; manifest bounds decode by their STORED
    * width, so range pruning keeps working across the promotion).
    * Everything else — narrowing, scale changes, cross-family casts —
    * refuses: they would silently corrupt values the old files hold. */
  def promoteColumnType(base: String, name: String, to: DataType): Long = {
    val target = sparkTypeToIceberg(to)
    evolveSchema(base, "promote") { fields =>
      val f = fields.find(_.get("name").asText() == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no column '$name' in $base"))
      val from = f.get("type").asText()
      val legal = (from, target) match {
        case ("int", "long") => true
        case ("float", "double") => true
        case (fd, td) if fd.startsWith("decimal(") && td.startsWith("decimal(") =>
          def ps(s: String): (Int, Int) = {
            val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")")
              .split(","); (p.trim.toInt, sc.trim.toInt)
          }
          val (p1, s1) = ps(fd); val (p2, s2) = ps(td)
          s1 == s2 && p2 > p1
        case _ => false
      }
      require(legal,
        s"'$from' -> '$target' is not a legal Iceberg type promotion " +
        "(spec permits int->long, float->double, and decimal precision " +
        "widening at the same scale); anything else would corrupt the " +
        "values existing files hold")
      fields.map { fl =>
        if (fl.get("name").asText() == name) {
          val c = fl.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
          c.put("type", target); c
        } else fl
      }
    }
  }

  /** Schema evolution: DROP COLUMN — the NEW schema omits the field;
    * data files keep the physical column as dead weight (reclaimed by
    * the next `rewriteDataFiles` of each file) and reads simply stop
    * projecting it. `last-column-id` does NOT move back: the id is
    * retired forever, so a later re-ADD of the same name gets a fresh
    * id and cannot resurrect old file data. Refuses fields a partition
    * spec sources (the table layout depends on them) and fields live
    * equality-delete files still match on (dropping one would break
    * merge-on-read masking of rows already deleted by it). */
  def dropColumn(spark: SparkSession, base: String, name: String): Long = {
    val snap = snapshot(spark, base)
    val fid = snap.schema.fields.find(_.name == name)
      .map(f => f.metadata.getLong("parquet.field.id").toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' in $base"))
    // EVERY spec counts, not just the default: after partition
    // evolution, older live files still carry partition records of
    // older specs, and those records resolve through this source id
    val specRefs = snap.specsById.values.flatten.filter(_.sourceId == fid)
    require(specRefs.isEmpty,
      s"cannot drop '$name': partition spec field " +
      s"${specRefs.map(_.name).toSeq.distinct.mkString(",")} sources it")
    val eqRefs = snap.eqDeletes.filter(_.equalityFieldIds.contains(fid))
    require(eqRefs.isEmpty,
      s"cannot drop '$name': ${eqRefs.size} live equality-delete file(s) " +
      "match on it — compact them away first (rewriteDataFiles)")
    require(snap.schema.size > 1, s"cannot drop every column of $base")
    evolveSchema(base, "drop") { fields =>
      fields.filterNot(_.get("name").asText() == name)
    }
  }

  /** Partition spec evolution (public spec §Partition Evolution):
    * commit a NEW default spec — metadata only, no snapshot, no data
    * file touched. Old specs stay in metadata because live files
    * written under them keep their old partition records; reads prune
    * each file through whatever spec fields its own record carries
    * (absent field → file kept), so evolution never changes results,
    * only which future writes get which layout.
    *
    * `add` appends derived fields, named by the writer's convention
    * (source name + transform suffix, e.g. `o_custkey_bucket`);
    * `drop` removes fields of the current default spec, matched by
    * spec-field name or by source column name. A re-added field
    * identical (name, source, transform) to one in ANY prior spec
    * reuses that field's id — spec field ids are forever, like schema
    * ids; a name that collides with a DIFFERENT prior definition
    * refuses, because one name meaning two things would make partition
    * records ambiguous across files. */
  def evolveSpec(spark: SparkSession, base: String,
                 add: Seq[(String, IceTransform)],
                 drop: Seq[String] = Seq.empty): Int = {
    require(add.nonEmpty || drop.nonEmpty, "evolveSpec: nothing to change")
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val schema = DataType.fromJson(icebergSchemaToSparkJson(meta))
      .asInstanceOf[StructType]
    val idOf = schemaIdOf(schema)
    val namesById: Map[Int, String] = schema.fields.flatMap(f =>
      if (f.metadata.contains("parquet.field.id"))
        Some(f.metadata.getLong("parquet.field.id").toInt -> f.name)
      else None).toMap
    val specsArr = meta.get("partition-specs")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val all: Seq[(Int, Seq[SpecField])] =
      (0 until specsArr.size()).map(specsArr.get).map { s =>
        val fs = s.get("fields")
        s.get("spec-id").asInt() ->
          (0 until fs.size()).map(fs.get).map(f => SpecField(
            f.get("name").asText(), f.get("transform").asText(),
            f.get("source-id").asInt(),
            Option(f.get("field-id")).map(_.asInt()).getOrElse(-1))).toSeq
      }
    val defId = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val cur: Seq[SpecField] = all.find(_._1 == defId).map(_._2)
      .getOrElse(Seq.empty)

    // drops: by spec-field name or by source column name (must resolve
    // to exactly one field of the CURRENT default spec)
    val dropped: Seq[SpecField] = drop.map { d =>
      val hits = cur.filter(f =>
        f.name == d || namesById.get(f.sourceId).contains(d))
      require(hits.nonEmpty,
        s"no partition field '$d' in the default spec of $base " +
        s"(have ${cur.map(_.name).mkString(", ")})")
      require(hits.size == 1,
        s"'$d' matches ${hits.size} partition fields " +
        s"(${hits.map(_.name).mkString(", ")}) — drop by spec-field name")
      hits.head
    }
    val remaining = cur.filterNot(f => dropped.exists(_.fieldId == f.fieldId))

    // adds: validate source + transform/type support (mirrors what the
    // writer's derivedField can stamp), then name conventionally and
    // reuse-or-mint the spec field id
    val allFields = all.flatMap(_._2)
    var lastPartId = Option(meta.get("last-partition-id")).map(_.asInt())
      .getOrElse((allFields.map(_.fieldId) :+ 999).max)
    val added: Seq[SpecField] = add.map { case (src, t) =>
      val f = schema.fields.find(_.name == src).getOrElse(
        throw new IllegalArgumentException(s"no column '$src' in $base"))
      val ok = t match {
        case IceTransform.Identity => f.dataType match {
          case IntegerType | LongType | StringType | DoubleType => true
          case _ => false }
        case IceTransform.Bucket(_) => f.dataType match {
          case IntegerType | LongType | StringType | DateType |
               TimestampType | TimestampNTZType => true
          case _ => false }
        case IceTransform.Truncate(_) => f.dataType match {
          case IntegerType | LongType | StringType => true
          case _ => false }
        case IceTransform.Hour => f.dataType match {
          case TimestampType => true
          case _ => false }
        case _ => f.dataType match { // day / month / year
          case DateType | TimestampType | TimestampNTZType => true
          case _ => false }
      }
      require(ok, s"transform ${t.spec} unsupported on column '$src' " +
        s"of type ${f.dataType.catalogString}")
      val sid = idOf(src).toInt
      val name = if (t == IceTransform.Identity) src else s"$src${t.suffix}"
      require(!remaining.exists(_.name == name),
        s"partition field '$name' already in the default spec")
      require(!remaining.exists(f2 =>
          f2.sourceId == sid && f2.transform == t.spec),
        s"the default spec already partitions by ${t.spec} of '$src' " +
        s"(field ${remaining.find(f2 => f2.sourceId == sid &&
          f2.transform == t.spec).map(_.name).get})")
      val fieldId = allFields.find(_.name == name) match {
        case Some(p) if p.sourceId == sid && p.transform == t.spec =>
          p.fieldId // identical re-add: the id is forever
        case Some(p) =>
          throw new IllegalArgumentException(
            s"partition field name '$name' was already used by an " +
            s"earlier spec for ${p.transform} of source-id ${p.sourceId} " +
            "— one name cannot mean two things across specs (refusing)")
        case None => lastPartId += 1; lastPartId
      }
      SpecField(name, t.spec, sid, fieldId)
    }
    require(added.nonEmpty || dropped.nonEmpty, "evolveSpec: no-op")
    val newFields = remaining ++ added
    require(newFields.map(_.name).distinct.size == newFields.size,
      "duplicate field names in the evolved spec")

    val newSpecId = all.map(_._1).max + 1
    val ns = specsArr.addObject()
    ns.put("spec-id", newSpecId)
    val nf = ns.putArray("fields")
    newFields.foreach { f =>
      val o = nf.addObject()
      o.put("name", f.name); o.put("transform", f.transform)
      o.put("source-id", f.sourceId); o.put("field-id", f.fieldId)
    }
    meta.put("default-spec-id", newSpecId)
    meta.put("last-partition-id",
      math.max(lastPartId, newFields.map(_.fieldId).foldLeft(0)(math.max)))
    meta.put("last-updated-ms", clock())
    commitMetadataVersion(base, meta)
    newSpecId
  }

  def append(df: DataFrame, base: String,
             partitionBy: Seq[String] = Seq.empty): Long = {
    // spec v3 §Default values: a writer that OMITS a defaulted column
    // materializes its write-default (the schema-shape check below
    // would otherwise refuse the narrower frame). Schema comes from
    // the metadata JSON alone — no manifest walk — and a
    // not-yet-existing table skips the fill (append still CREATES it;
    // appendSpec keeps the caller's columns as identity).
    val filled =
      if (!io.isDirectory(metadataDir(base))) df
      else {
        val snapSchema = schemaFromMeta(readMeta(base), base)
        val missing = snapSchema.fields.filterNot(f =>
          df.columns.contains(f.name))
        if (missing.isEmpty ||
            !missing.forall(f => writeDefaultOf(f).isDefined)) df
        else {
          // the fill only WIDENS a narrower frame — columns the table
          // doesn't know still refuse loudly (a misspelled defaulted
          // column must not be silently discarded)
          val unknown = df.columns.filterNot(snapSchema.fieldNames.contains)
          require(unknown.isEmpty,
            s"append frame has columns not in the table schema of $base: " +
            unknown.mkString(", "))
          missing.foldLeft(df) { (d, f) =>
            d.withColumn(f.name,
              org.apache.spark.sql.functions.lit(writeDefaultOf(f).get)
                .cast(f.dataType))
          }.select(snapSchema.fieldNames
            .map(org.apache.spark.sql.functions.col).toSeq: _*)
        }
      }
    commitSnapshotSpec(filled, base, "append",
      appendSpec(filled.sparkSession, base, partitionBy))
  }

  /** Write-audit-publish, step 1: append onto a BRANCH. The new
    * snapshot chains off the branch head (forking from main if the
    * ref doesn't exist yet) and only the branch ref moves — main's
    * readers never see the rows until `fastForward` publishes. Audit
    * with `readRef(spark, base, branch)`. */
  def appendToBranch(df: DataFrame, base: String, branchName: String,
                     partitionBy: Seq[String] = Seq.empty): Long =
    commitSnapshotSpec(df, base, "append",
      appendSpec(df.sparkSession, base, partitionBy),
      branch = Some(branchName))

  /** Cherry-pick: RE-APPLY one append snapshot's added files as a NEW
    * commit on main — the publish path when `fastForward` refuses
    * because main moved past the branch fork (Iceberg's
    * `cherrypick_snapshot` for appends). The added files are
    * re-manifested at the NEW snapshot's sequence number: a rebase, so
    * equality/position deletes main gained since the fork do NOT
    * retroactively mask the re-applied rows (re-using the original
    * lower sequence would). Zero data files move — only one manifest
    * and one metadata version are written. Only plain appends qualify:
    * replace/delete snapshots entangle removed state and refuse. */
  def cherryPick(spark: SparkSession, base: String,
                 snapshotId: Long): Long = {
    val prev = readMeta(base)
    val snaps = prev.get("snapshots")
    val picked = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong() == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId not in $base"))
    require(Option(picked.get("summary"))
        .exists(_.get("operation").asText() == "append"),
      s"cherryPick re-applies APPEND snapshots only — $snapshotId is " +
      Option(picked.get("summary")).map(_.get("operation").asText())
        .getOrElse("unknown"))
    val parentId = Option(picked.get("parent-snapshot-id")).map(_.asLong())
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId records no parent — cannot derive what " +
        "it added"))
    val pickedFiles = snapshot(spark, base, Some(snapshotId)).files
    val parentPaths =
      snapshot(spark, base, Some(parentId)).files.map(_.path).toSet
    val added = pickedFiles.filterNot(f => parentPaths.contains(f.path))
    val cur = snapshot(spark, base)
    require(added.nonEmpty, s"snapshot $snapshotId added no data files")
    val livePaths = cur.files.map(_.path).toSet
    require(!added.exists(f => livePaths.contains(f.path)),
      s"cherryPick of $snapshotId would double-apply: some of its " +
      "files are already live on main")
    require(cur.specFields.forall(_.transform == "identity"),
      "cherryPick on a transformed partition spec is not implemented")
    val newId = nextSnapshotId(prev)
    val id = UUID.randomUUID().toString
    val partTypes: Seq[(String, DataType)] =
      cur.partitionColumns.map(c => c -> cur.schema(c).dataType)
    // the picked files' partition records restamp under main's DEFAULT
    // spec — sound only if they were written under it
    require(added.forall(_.partitionValues.keySet ==
        cur.specFields.map(_.name).toSet),
      "cherryPick would restamp picked files' partition records under " +
      "the default spec, but they were written under an older spec " +
      "(partition evolution) — refusing")
    val mFile = writeEntriesManifest(metadataDir(base),
      s"manifest-pick-$id.avro", added.sortBy(_.path), newId,
      status = 1, seqOf = _ => newId, partTypes = partTypes,
      specFieldIds = cur.specFields.map(_.fieldId))
    commitManifestListSnapshot(base, prev,
      currentManifests(base, prev) :+ ManifestRef(mFile, 0, newId, newId,
        cur.defaultSpecId),
      newId, id, "append",
      summary = Map("graft.source-snapshot-id" -> snapshotId.toString))
  }

  /** Write-audit-publish, step 2: fast-forward MAIN to the branch
    * head. Pure metadata — current-snapshot-id moves, no file is
    * touched. Refuses unless main's current snapshot is an ANCESTOR
    * of the branch head (walked over parent-snapshot-id links):
    * publishing a diverged branch would silently drop main-side
    * commits, which needs a merge that deliberately does not exist
    * here. The branch ref stays (drop it with dropRef when done). */
  def fastForward(base: String, branchName: String): Long = {
    val meta = readMeta(base)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val target = Option(meta.get("refs"))
      .flatMap(r => Option(r.get(branchName)))
      .getOrElse(throw new IllegalArgumentException(
        s"no ref '$branchName' in $base"))
    require(target.get("type").asText() == "branch",
      s"ref '$branchName' is a tag — fastForward publishes branches")
    val targetId = target.get("snapshot-id").asLong()
    val cur = meta.get("current-snapshot-id").asLong()
    if (cur == targetId) return targetId
    val snaps = meta.get("snapshots")
    val parentOf: Map[Long, Long] = (0 until snaps.size()).map(snaps.get)
      .flatMap(s => Option(s.get("parent-snapshot-id"))
        .map(p => s.get("snapshot-id").asLong() -> p.asLong())).toMap
    var walk = targetId
    var isAncestor = false
    while (!isAncestor && parentOf.contains(walk)) {
      walk = parentOf(walk)
      if (walk == cur) isAncestor = true
    }
    require(isAncestor,
      s"cannot fast-forward: main ($cur) is not an ancestor of " +
      s"'$branchName' ($targetId) — the branch diverged; rebase it " +
      "(new branch from main + re-append) instead")
    meta.put("current-snapshot-id", targetId)
    commitMetadataVersion(base, meta)
    targetId
  }

  /** Overwrite with a TRANSFORMED partition spec — bucket[N] /
    * truncate[W] / day / identity per source column. Data files keep
    * every source column (Iceberg's shape); the manifests' partition
    * records carry the derived values that `readEq` prunes on. */
  def overwriteTransformed(df: DataFrame, base: String,
                           spec: Seq[(String, IceTransform)]): Long =
    commitSnapshotSpec(df, base, "overwrite", spec)

  def appendTransformed(df: DataFrame, base: String,
                        spec: Seq[(String, IceTransform)]): Long =
    commitSnapshotSpec(df, base, "append", spec)
}
