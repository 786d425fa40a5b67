package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("CsvSource: BOM + diacritic headers + sentinels + safe casts, one pass") {
    val dir = tempDir("graft_csv")
    // utf-8-sig style: BOM + Turkish headers + sentinel cells (the exact
    // edge the reference handles imperatively)
    val csv = "﻿İdari Bölgeler,Tarih En Erken,Mesafe\n" +
      "Fatih,1890,12.5\nKonum Yok,NA,\nÜsküdar,1905.0,NA\n"
    Files.write(Paths.get(dir, "label.csv"), csv.getBytes(StandardCharsets.UTF_8))

    val df = CsvSource.read(spark, dir)
    assert(df.columns.toSeq === Seq("idari_bolgeler", "tarih_en_erken", "mesafe"))

    val cleaned = CsvSource.nullifySentinels(df.select(
        col("idari_bolgeler").cast("string").as("idari_bolgeler"),
        CsvSource.safeInt(col("tarih_en_erken").cast("string")).as("yr"),
        CsvSource.safeFloat(col("mesafe").cast("string")).as("dist")),
      cols = Seq("idari_bolgeler"))
    val rows = cleaned.orderBy(asc_nulls_last("yr")).collect()
    assert(rows.map(_.isNullAt(0)).toSeq === Seq(false, false, true))
    assert(rows(0).getLong(1) === 1890L && rows(0).getString(0) === "Fatih")
    assert(rows(1).getLong(1) === 1905L, "int-via-float: '1905.0' parses")
    assert(rows(1).isNullAt(2), "'NA' distance is NULL")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("CsvSource: explicit schema skips inference and binds types") {
    val dir = tempDir("graft_csv_schema")
    Files.write(Paths.get(dir, "t.csv"), "id,score\n1,2.5\n2,3.5\n".getBytes(StandardCharsets.UTF_8))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    val df = CsvSource.read(spark, dir, Some(schema))
    assert(df.schema.map(_.dataType.typeName) === Seq("long", "double"))
    assert(df.orderBy("id").as[(Long, Double)].collect().toSeq === Seq((1L, 2.5), (2L, 3.5)))
  }

  test("CsvSource: round-trip write/read keeps rows") {
    val dir = tempDir("graft_csv_rt")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    CsvSource.write(df, s"$dir/out")
    val back = CsvSource.read(spark, s"$dir/out")
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }

  test("JsonSource: schema'd read, corrupt record quarantined not fatal") {
    val dir = tempDir("graft_json")
    val good = """{"image_path":"dataset/1900/01/a.jpg","filename":"a.jpg","features":[0.1,0.2],"feature_dimension":2}"""
    val bad = """{"image_path": BROKEN"""
    Files.write(Paths.get(dir, "a.json"), (good + "\n" + bad).getBytes(StandardCharsets.UTF_8))
    // caching is Spark's documented requirement for querying the corrupt
    // column of a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = JsonSource.read(spark, dir, JsonSource.featureSchema).cache()
    assert(df.count() === 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    val f = df.filter(col("filename") === "a.jpg")
      .select("features").as[Seq[Float]].head()
    assert(f === Seq(0.1f, 0.2f))
  }

  test("JsonSource: write then read round-trips the nested segment shape") {
    val dir = tempDir("graft_json_rt")
    val row = (
      "x.jpg",
      Seq((1, 100, Seq(0f, 0f, 10f, 10f), 0.97f, Seq(0.5f, 0.5f),
        Seq(("building", 0.8f), ("sky", 0.1f)))))
    val df = Seq(row).toDF("filename", "segments")
      .withColumn("segments", col("segments").cast(
        JsonSource.segmentSchema("segments").dataType))
    JsonSource.write(df, s"$dir/out")
    val back = JsonSource.read(spark, s"$dir/out", JsonSource.segmentSchema)
    assert(back.count() === 1)
    val tag = back.select(explode(col("segments")).as("s"))
      .select(explode(col("s.tags")).as("t")).select("t.tag", "t.confidence")
      .as[(String, Float)].collect().toMap
    assert(tag === Map("building" -> 0.8f, "sky" -> 0.1f))
  }

  test("CsvSource.parseDate: datetime, date, epoch-millis fallback chain") {
    val df = Seq(
      (1L, "2024-03-05 12:34:56"),  // full datetime
      (2L, "2024-03-05"),           // bare date -> midnight
      (3L, "1709642096123"),        // epoch millis
      (4L, "not-a-date"),           // unparseable -> NULL, no error
      (5L, null.asInstanceOf[String]),
      (6L, "1709642096123456789")   // epoch NANOS: would overflow millis*1000
    ).toDF("id", "raw")
    val out = df.select(col("id"),
        date_format(CsvSource.parseDate(col("raw")), "yyyy-MM-dd HH:mm:ss.SSS")
          .as("p"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("2024-03-05 12:34:56.000"))
    assert(out(2L).contains("2024-03-05 00:00:00.000"))
    assert(out(3L).contains("2024-03-05 12:34:56.123")) // same instant, ms kept
    assert(out(4L).isEmpty && out(5L).isEmpty)
    assert(out(6L).isEmpty, "out-of-range numeric is NULL, never an error")
  }

  test("BinarySource: glob scan, path parts, existence semi-join") {
    val dir = tempDir("graft_bin")
    Files.createDirectories(Paths.get(dir, "1900", "01"))
    Files.write(Paths.get(dir, "1900", "01", "a.jpg"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(dir, "1900", "01", "b.png"), Array[Byte](4, 5))
    Files.write(Paths.get(dir, "1900", "01", "notes.txt"), Array[Byte](9))

    val listing = BinarySource.scan(spark, dir, dropContent = true)
    assert(listing.count() === 2, "txt excluded by glob at listing time")

    val parts = BinarySource.withDateParts(BinarySource.withPathParts(listing))
    val m = parts.select("stem", "year", "month").as[(String, Int, Int)].collect()
      .map { case (k, y, mo) => k -> ((y, mo)) }.toMap
    assert(m === Map("a" -> ((1900, 1)), "b" -> ((1900, 1))))

    val meta = Seq(("a", "kept"), ("z", "dropped")).toDF("stem_key", "note")
    val kept = BinarySource.existingOnly(meta, listing, "stem_key")
    assert(kept.select("stem_key").as[String].collect().toSeq === Seq("a"))

    val withBytes = BinarySource.scan(spark, dir)
    assert(withBytes.filter(col("path").endsWith("a.jpg"))
      .select(length(col("content"))).as[Int].head() === 3)
  }
}
