package graft

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.pipeline.GraftLog
import graft.sources.{DeltaInterop, IcebergInterop}

/** Pins the exact per-file statistics each table format records for
  * one frame: Delta's `add.stats` JSON, Iceberg's manifest
  * `record_count` / `lower_bounds` / `upper_bounds` / partition tuple,
  * and graft-log's zone maps, null counts and ndv. The frame carries
  * nulls, a 65-char string (past the 64-char bound cap), NaN and
  * ±Infinity doubles, a date, a timestamp and a decimal, and one
  * partition column with three values (one file per value). */
class StatsEncodingSpec extends SparkSpec {

  private def freshBase(name: String): String = {
    val p = s"/tmp/graft_test_statsenc_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(p))
    p
  }

  private val long65 = "z" * 65

  private def frame = {
    val schema = StructType(Seq(
      StructField("p", IntegerType),
      StructField("i", LongType),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(10, 2))))
    def date(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(1, 1L, "a", 1.5, date("2020-01-01"), ts("2020-01-01T00:00:00Z"), dec("1.10")),
      Row(1, null, long65, Double.NaN, null, ts("2021-06-15T12:30:00.123456Z"), null),
      Row(1, 3L, null, Double.PositiveInfinity, date("2020-03-01"), null, dec("-2.50")),
      Row(2, 10L, "b", Double.NegativeInfinity, date("1969-12-31"), ts("1969-12-31T23:59:59Z"), dec("100.00")),
      Row(2, 20L, "c", 2.5, date("2022-02-02"), ts("2022-02-02T02:02:02Z"), dec("0.01")),
      Row(3, -5L, "", 0.5, date("2023-07-04"), ts("2023-07-04T00:00:00Z"), dec("7.77")),
      Row(3, null, "é", -0.0, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  test("delta add.stats per partition file") {
    val base = freshBase("delta")
    DeltaInterop.overwrite(frame, base, partitionBy = Seq("p"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile(
      s"$base/_delta_log/%020d.json".format(0L), "UTF-8")
    val adds = try src.getLines().toList finally src.close()
    val stats = adds.flatMap(l => Option(mapper.readTree(l).get("add")))
      .map(a => a.get("partitionValues").get("p").asText() ->
        a.get("stats").asText()).toMap
    assert(stats == Map(
      "1" -> ("""{"numRecords":3,"minValues":{"i":1,"dt":"2020-01-01",""" +
        """"ts":"2020-01-01T00:00:00Z","dec":-2.50},"maxValues":{"i":3,""" +
        """"dt":"2020-03-01","ts":"2021-06-15T12:30:00.123456Z","dec":1.10},""" +
        """"nullCount":{"i":1,"s":1,"d":0,"dt":1,"ts":1,"dec":1}}"""),
      "2" -> ("""{"numRecords":2,"minValues":{"i":10,"s":"b","dt":"1969-12-31",""" +
        """"ts":"1969-12-31T23:59:59Z","dec":0.01},"maxValues":{"i":20,"s":"c",""" +
        """"dt":"2022-02-02","ts":"2022-02-02T02:02:02Z","dec":100.00},""" +
        """"nullCount":{"i":0,"s":0,"d":0,"dt":0,"ts":0,"dec":0}}"""),
      "3" -> ("""{"numRecords":2,"minValues":{"i":-5,"s":"","d":-0.0,""" +
        """"dt":"2023-07-04","ts":"2023-07-04T00:00:00Z","dec":7.77},""" +
        """"maxValues":{"i":-5,"s":"é","d":0.5,"dt":"2023-07-04",""" +
        """"ts":"2023-07-04T00:00:00Z","dec":7.77},""" +
        """"nullCount":{"i":1,"s":0,"d":0,"dt":1,"ts":1,"dec":1}}""")),
      stats)
  }

  test("iceberg record_count, bounds and partition tuple per file") {
    val base = freshBase("iceberg")
    IcebergInterop.overwrite(frame, base, partitionBy = Seq("p"))
    val files = IcebergInterop.snapshot(spark, base).files
    def bounds(m: Map[Int, Array[Byte]]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$k:${hex(v)}" }.mkString(",")
    val got = files.map(f => f.partitionValues ->
      (f.recordCount, bounds(f.lowerBounds), bounds(f.upperBounds))).toMap
    assert(got == Map(
      Map("p" -> "1") -> (3L,
        "1:01000000,2:0100000000000000,5:56470000,6:0040fac1089b0500,7:ff06",
        "1:01000000,2:0300000000000000,5:92470000,6:40c4ed21cdc40500,7:6e"),
      Map("p" -> "2") -> (2L,
        "1:02000000,2:0a00000000000000,3:62,4:000000000000f0ff,5:ffffffff," +
          "6:c0bdf0ffffffffff,7:01",
        "1:02000000,2:1400000000000000,3:63,4:0000000000000440,5:514a0000," +
          "6:803a5267ffd60500,7:2710"),
      Map("p" -> "3") -> (2L,
        "1:03000000,2:fbffffffffffffff,3:,4:0000000000000080,5:564c0000," +
          "6:0040daf69dff0500,7:0309",
        "1:03000000,2:fbffffffffffffff,3:c3a9,4:000000000000e03f,5:564c0000," +
          "6:0040daf69dff0500,7:0309")), got)
  }

  test("graft-log zone maps, null counts and ndv per file") {
    val base = freshBase("graftlog")
    GraftLog.overwriteClustered(frame, base, Seq("p"), nFiles = 3,
      statsCols = Seq("i", "s", "d", "dt", "ts", "dec"))
    val snap = GraftLog.snapshot(base)
    val got = snap.files.map { f =>
      val cols = snap.fileStats(f)
      val p = cols("p").minMax.get._1.asText()
      p -> cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        val mm = cs.minMax.map { case (mn, mx) => s"$mn..$mx" }.getOrElse("-")
        s"$c[$mm nulls=${cs.nullCount.getOrElse(-1)} ndv=${cs.ndv.getOrElse(-1)}]"
      }.mkString(" ")
    }.toMap
    assert(got == Map(
      "1" -> ("""d[1.5.."NaN" nulls=0 ndv=3] dec[- nulls=1 ndv=2] """ +
        """dt[- nulls=1 ndv=2] i[1..3 nulls=1 ndv=2] p[1..1 nulls=0 ndv=1] """ +
        s"""s["a".."$long65" nulls=1 ndv=2] ts[- nulls=1 ndv=2]"""),
      "2" -> ("""d["-Infinity"..2.5 nulls=0 ndv=2] dec[- nulls=0 ndv=2] """ +
        """dt[- nulls=0 ndv=2] i[10..20 nulls=0 ndv=2] p[2..2 nulls=0 ndv=1] """ +
        """s["b".."c" nulls=0 ndv=2] ts[- nulls=0 ndv=2]"""),
      "3" -> ("""d[-0.0..0.5 nulls=0 ndv=2] dec[- nulls=1 ndv=1] """ +
        """dt[- nulls=1 ndv=1] i[-5..-5 nulls=1 ndv=1] p[3..3 nulls=0 ndv=1] """ +
        """s["".."é" nulls=0 ndv=2] ts[- nulls=1 ndv=1]""")), got)
    // the non-finite bounds stored as text still prune: ±Infinity are
    // the numbers, NaN sorts above every number (Spark's double order)
    val fileOf = snap.files.map(f =>
      snap.fileStats(f)("p").minMax.get._1.asText() -> f).toMap
    def pruned(lo: Double, hi: Double): Set[String] = {
      val byRange = GraftLog.candidateFiles(base, "d", lo, hi).toSet
      val d = org.apache.spark.sql.functions.col("d")
      val byPredicate = GraftLog.candidateFilesFor(base, d >= lo && d <= hi).toSet
      assert(byRange == byPredicate)
      fileOf.collect { case (p, f) if !byRange.contains(f) => p }.toSet
    }
    assert(pruned(-10.0, 0.0) == Set("1"))
    assert(pruned(3.0, 10.0) == Set("2", "3"))
    assert(GraftLog.candidateFilesFor(base,
      org.apache.spark.sql.functions.col("d") > 100.0) == Seq(fileOf("1")))
  }
}
