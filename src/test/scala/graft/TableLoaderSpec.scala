package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** SparkEntry.t, the loader every query reads through: both physical
  * layouts the events table has shipped with normalize to the same
  * TimestampType instants. */
class TableLoaderSpec extends SparkSpec {
  import spark.implicits._

  private val instants = Seq(
    Instant.parse("2024-01-01T00:00:00.123456Z"),
    Instant.parse("2024-03-15T12:34:56.000001Z"))

  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-loader").toString
    df.write.parquet(s"$dir/events.parquet")
    dir
  }

  private def loadedTs(dir: String): Seq[Instant] = {
    val df = SparkEntry.t(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    df.orderBy("event_id").collect().map(_.getTimestamp(1).toInstant).toSeq
  }

  test("t(): events.ts as long nanoseconds loads as TimestampType") {
    // sub-microsecond digits are dropped: floor(ns / 1000) micros
    val nanos = instants.map(i => i.getEpochSecond * 1000000000L + i.getNano + 789L)
    val dir = writeEvents(nanos.zipWithIndex.map { case (ns, i) => (i.toLong, ns) }
      .toDF("event_id", "ts"))
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType === LongType)
    assert(loadedTs(dir) === instants)
  }

  test("t(): events.ts as TIMESTAMP_NTZ loads as the same TimestampType instants") {
    val wall = instants.map(i => LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    val dir = writeEvents(wall.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("event_id", "ts"))
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType === TimestampNTZType)
    assert(loadedTs(dir) === instants)
  }

  test("t(): tables other than events are read as stored") {
    val dir = java.nio.file.Files.createTempDirectory("graft-loader").toString
    Seq((1L, 2L)).toDF("id", "ts").write.parquet(s"$dir/orders.parquet")
    assert(SparkEntry.t(spark, dir, "orders").schema("ts").dataType === LongType)
  }
}
