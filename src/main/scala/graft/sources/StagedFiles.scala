package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two steps every table format (Delta, Iceberg, graft-log) takes
  * to turn a frame into files it can commit, written once:
  *
  *  - [[publish]]: run a Spark parquet write into a scratch directory,
  *    list its `part-*.parquet` files (through hive `k=v/` directories)
  *    in one sorted order, hand each to the caller's `place` callback —
  *    which names the file and publishes it through [[TableIO]]
  *    (`move`, `moveReplace` or `mirror`) — and delete the scratch
  *    directory on every exit path, so a write that fails part-way
  *    never strands a hidden `.stage_*` directory no vacuum reclaims.
  *  - [[perFile]]: ONE aggregate scan over freshly written files,
  *    grouped by `_metadata.file_path`, yielding per-file row counts
  *    and per-column min / max / non-null count (plus an HLL ndv and
  *    constant-per-file expressions on request). Each format encodes
  *    the result its own way: Delta `add.stats` JSON, Iceberg manifest
  *    bounds, graft-log zone maps.
  */
private[graft] object StagedFiles {

  /** One staged part file: `path` is its location in the scratch
    * directory, `rel` its path relative to it (hive partition
    * directories included), `index` its position in the sorted order
    * and `count` the number of parts the write produced. */
  final case class Part(path: String, rel: String, index: Int, count: Int) {
    /** The `(column, value)` pairs of the hive directories above the
      * file, outermost first. Values are unescaped with the Hive `%XX`
      * convention Spark's `partitionBy` wrote them in (NOT URLDecoder:
      * '+' is a literal plus in a path). */
    def partition: Seq[(String, String)] =
      rel.split('/').toSeq.dropRight(1).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> PathCodec.unescapePathName(v)
      }
  }

  /** Run `write(scratch)`, then `place` every part file it produced;
    * returns `place`'s results in sorted relative-path order. Lists
    * directories only (no per-entry probes): Spark names partition
    * directories `k=v` and data files `part-*`. */
  def publish[T](scratch: String)(write: String => Unit)
                (place: Part => T): Seq[T] = {
    val io = TableIO()
    try {
      write(scratch)
      def walk(rel: String): Seq[String] =
        io.list(if (rel.isEmpty) scratch else TableIO.join(scratch, rel))
          .flatMap { n =>
            val r = if (rel.isEmpty) n else s"$rel/$n"
            if (n.contains('=')) walk(r)
            else if (n.startsWith("part-") && n.endsWith(".parquet")) Seq(r)
            else Seq.empty
          }
      val rels = walk("").sorted
      // placed last-first: part 0 lands last, so a reader that takes
      // part 0's presence as "every part is published" (a crash-replay
      // marker) never sees a partial set
      rels.indices.reverse.map { i =>
        place(Part(TableIO.join(scratch, rels(i)), rels(i), i, rels.size))
      }.reverse
    } finally io.deleteRecursively(scratch)
  }

  /** The column types whose min/max the formats record as bounds. */
  def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** One column's aggregate over one file. `ndv` is set for the
    * columns [[perFile]] was asked to sketch. */
  final case class ColAgg(min: Any, max: Any, nonNull: Long, ndv: Option[Long])

  /** One file's aggregate: row count, the requested columns, and the
    * requested `first()` expressions by name. */
  final case class FileAgg(rows: Long, cols: Map[String, ColAgg],
                           extras: Map[String, Any])

  /** Aggregate `paths` in ONE scan grouped by file (one result row per
    * file — metadata-scale), keyed by the caller's own path strings.
    * `schema` is the read schema (None = the files' own); `ndvCols`
    * (a subset of `statCols`) also get `approx_count_distinct`;
    * `extras` are `first()` expressions, for values constant per file
    * (e.g. a partition tuple). Files absent from the result held no
    * rows the scan could see. */
  def perFile(spark: SparkSession, paths: Seq[String],
              schema: Option[StructType] = None,
              statCols: Seq[String] = Seq.empty,
              ndvCols: Set[String] = Set.empty,
              extras: Seq[(String, Column)] = Seq.empty): Map[String, FileAgg] = {
    if (paths.isEmpty) return Map.empty
    val ndv = statCols.filter(ndvCols)
    val aggs = Seq(count(lit(1))) ++
      statCols.flatMap(c => Seq(min(col(c)), max(col(c)), count(col(c)))) ++
      ndv.map(c => approx_count_distinct(col(c))) ++
      extras.map { case (_, c) => first(c, ignoreNulls = false) }
    val byKey = schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
      .groupBy(PathCodec.metadataFileKey)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0) -> r).toMap
    // row layout: key, rows, [min, max, nonNull] per stat column, then
    // one ndv per ndv column, then the extras
    val ndvAt = 2 + statCols.size * 3
    val extrasAt = ndvAt + ndv.size
    paths.flatMap { p =>
      byKey.get(PathCodec.metadataPathKey(p)).map { r =>
        val cols = statCols.zipWithIndex.map { case (c, i) =>
          val j = ndv.indexOf(c)
          c -> ColAgg(r.get(2 + i * 3), r.get(3 + i * 3), r.getLong(4 + i * 3),
            if (j < 0) None else Some(r.getLong(ndvAt + j)))
        }.toMap
        p -> FileAgg(r.getLong(1), cols,
          extras.zipWithIndex.map { case ((n, _), i) =>
            n -> r.get(extrasAt + i) }.toMap)
      }
    }.toMap
  }
}
