package graft

import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** Regression matrix for the round-8 breakage class: the driver has
  * shipped `events.ts` as parquet TIMESTAMP(NANOS) (a raw ns long under
  * nanosAsLong), and later as µs TIMESTAMP_NTZ — and a real warehouse
  * reads files from many producers. The SAME rows are written under each
  * physical encoding a producer could emit (plain int64 ns, µs TIMESTAMP
  * adjusted-to-UTC, µs TIMESTAMP_NTZ) and both the batch loader
  * (Tables.events) and the streaming source (EventStream.readEvents)
  * must yield bit-identical TimestampType values for all of them.
  * Breaking any branch of Tables.normalizeEventTs /
  * Tables.eventTsLongUnit reddens this spec.
  */
class TsEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // 6 rows spanning hours, µs precision exercised in the low digits
  private val baseUs = 1700000000000000L
  private def rows = (0 until 6).map { i =>
    (i.toLong, baseUs + i * 3600L * 1000000 + i * 7, (i % 3).toLong,
      s"type_$i", i * 1.5, "{}")
  }

  private def encodings(): Map[String, File] = {
    import spark.implicits._
    val tsUs = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val root = Files.createTempDirectory("graft_ts_matrix").toFile
    def sub(name: String): File = { val f = new File(root, name); f.mkdirs(); f }
    // each encoding as the single-file `<dir>/events.parquet` layout the
    // testdata uses (and the streaming glob expects)
    def writeSingleFile(df: DataFrame, name: String): Unit =
      StreamFiles.writeOne(df, sub(name).toString, "events")

    // plain INT64 nanoseconds (the nanos-era convention, and what the
    // replay harness's sentinel rows use)
    writeSingleFile(tsUs.withColumn("ts", col("ts") * 1000L), "long_ns")

    // µs TIMESTAMP, isAdjustedToUTC — a producer writing instants
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      writeSingleFile(tsUs.withColumn("ts", timestamp_micros(col("ts"))), "ts_utc")
      // µs TIMESTAMP_NTZ — the current driver testdata encoding; the
      // TZ→NTZ cast reinterprets in the UTC session zone, so the naive
      // wall-clock equals the instant's UTC reading
      writeSingleFile(
        tsUs.withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType)), "ts_ntz")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    Map("long_ns" -> sub("long_ns"), "ts_utc" -> sub("ts_utc"), "ts_ntz" -> sub("ts_ntz"))
  }

  test("batch loader normalizes all three physical ts encodings identically") {
    val dirs = encodings()
    // the three files really carry three distinct physical schemas
    val physical = dirs.map { case (k, d) =>
      k -> spark.read.parquet(s"$d/events.parquet").schema("ts").dataType.typeName
    }
    assert(physical("long_ns") === "long")
    assert(physical("ts_utc") === "timestamp")
    assert(physical("ts_ntz") === "timestamp_ntz")

    val got = dirs.map { case (k, d) =>
      val df = graft.core.Tables.events(spark, d.getAbsolutePath)
      assert(df.schema("ts").dataType === TimestampType, s"$k must normalize to TimestampType")
      k -> df.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val want = rows.map(r => (r._1, r._2)).toSet
    for ((k, vals) <- got) assert(vals === want, s"encoding $k read wrong instants")
  }

  test("streaming source normalizes all three physical ts encodings identically") {
    val dirs = encodings()
    val want = rows.map(r => (r._1, r._2)).toSet
    for ((k, d) <- dirs) {
      val stream = EventStream.readEvents(spark, d.getAbsolutePath)
      assert(stream.schema("ts").dataType === TimestampType)
      val name = s"ts_matrix_$k"
      val q = stream.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"streaming encoding $k read wrong instants")
    }
  }

  test("eventTsLongUnit reads the footer annotation, ns fallback for plain int64") {
    val dirs = encodings()
    assert(graft.core.Tables.eventTsLongUnit(spark,
      s"${dirs("long_ns")}/events.parquet") === "ns")
    assert(graft.core.Tables.eventTsLongUnit(spark,
      s"${dirs("ts_utc")}/events.parquet") === "us")
    assert(graft.core.Tables.eventTsLongUnit(spark,
      s"${dirs("ts_ntz")}/events.parquet") === "us")
  }

  test("table loader widens narrow integral columns to long (int32 regeneration)") {
    // the other physical-type flip a driver regeneration could make:
    // ids written as int32. The seam must hand every consumer the same
    // BIGINT schema the all-long data produces — encoders (`as[T]` with
    // Long fields), `getLong` in tests, and long-literal arithmetic all
    // assume it.
    import org.apache.spark.sql.functions.{col, expr}
    val tmp = java.nio.file.Files.createTempDirectory("graft-int32").toFile
    try {
      spark.range(10)
        .select(col("id").cast("int").as("doc_id"),
          expr("CAST(id % 3 AS SMALLINT)").as("source"),
          expr("repeat('w ', 5)").as("text"))
        .coalesce(1).write.mode("overwrite")
        .parquet(new File(tmp, "documents.parquet").getAbsolutePath)
      val df = graft.core.Tables.documents(spark, tmp.getAbsolutePath)
      import org.apache.spark.sql.types.LongType
      assert(df.schema("doc_id").dataType === LongType)
      assert(df.schema("source").dataType === LongType)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L))
      // and the real testdata round-trips unchanged (all-long already)
      val real = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      assert(real.schema("doc_id").dataType === LongType)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
