package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 regression: the driver regenerated events.parquet with `ts`
  * as TIMESTAMP(MICROS, NTZ) after seven rounds of TIMESTAMP(NANOS), and
  * the hard-coded nanos-as-long scan (a) threw on every batch events
  * gate and (b) SILENTLY compressed the streaming timeline 1000× (the
  * LongType source schema read micros values as if they were nanos).
  * [[Tables.events]]/[[Tables.eventsStream]] now dispatch on the loaded
  * physical type and canonicalize `ts` to epoch-nanos long; this spec
  * pins every branch of that dispatch so no future producer encoding
  * switch can regress it.
  *
  * Spark cannot WRITE parquet TIMESTAMP(NANOS), so the nanos branch is
  * pinned at its post-load shape (`ts` already LongType — exactly what
  * `nanosAsLong=true` produces from a nanos file, byte-identical
  * values) via an int64 parquet file; the micros branches are real
  * file round-trips through both TIMESTAMP_NTZ and TIMESTAMP_LTZ.
  */
class EventsEncodingSpec extends AnyFunSuite with SparkSpec {

  // one event at a known instant: 2024-03-01 12:34:56.789012 UTC
  private val wantMicros = 1709296496789012L
  private val wantNanos = wantMicros * 1000L

  private def writeEvents(dir: String, tsType: DataType, tsValue: Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, tsValue, 7L, "click", 1.5, "{}"))
    spark.createDataFrame(rows, schema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def tmp(): String =
    Files.createTempDirectory("events_enc").toString

  test("nanos-as-long encoding passes through unchanged (batch + stream)") {
    val dir = tmp()
    writeEvents(dir, LongType, wantNanos)
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType === LongType)
    assert(batch.select("ts").head().getLong(0) === wantNanos)
    assert(batch.select(unix_micros(col("ts_utc"))).head().getLong(0) === wantMicros)
    assert(drainStream(dir) === wantNanos)
  }

  private def ntzWant = java.time.LocalDateTime.ofEpochSecond(
    wantMicros / 1000000L, (wantMicros % 1000000L).toInt * 1000,
    java.time.ZoneOffset.UTC)

  test("TIMESTAMP_NTZ micros encoding is rescaled to canonical epoch-nanos") {
    val dir = tmp()
    writeEvents(dir, TimestampNTZType, ntzWant)
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType === LongType)
    assert(batch.select("ts").head().getLong(0) === wantNanos)
    assert(batch.select(unix_micros(col("ts_utc"))).head().getLong(0) === wantMicros)
    assert(drainStream(dir) === wantNanos)
  }

  test("TIMESTAMP_LTZ (UTC-adjusted) micros encoding is rescaled the same way") {
    val dir = tmp()
    writeEvents(dir, TimestampType,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        wantMicros / 1000000L, (wantMicros % 1000000L) * 1000L)))
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType === LongType)
    assert(batch.select("ts").head().getLong(0) === wantNanos)
    assert(drainStream(dir) === wantNanos)
  }

  test("regenerating events.parquet in place with another ts encoding re-resolves its schema") {
    val dir = tmp()
    writeEvents(dir, LongType, wantNanos)
    assert(Tables.events(spark, dir).select("ts").head().getLong(0) === wantNanos)
    writeEvents(dir, TimestampNTZType, ntzWant)
    assert(Tables.events(spark, dir).select("ts").head().getLong(0) === wantNanos)
  }

  test("loading events leaves the session's nanosAsLong setting alone") {
    val dir = tmp()
    writeEvents(dir, LongType, wantNanos)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      Tables.table(spark, dir, "events")
      assert(spark.conf.get(key) === "false")
    } finally spark.conf.set(key, prev)
  }

  test("NTZ canonicalization is session-timezone independent") {
    val dir = tmp()
    writeEvents(dir, TimestampNTZType, ntzWant)
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "Asia/Tehran")
      assert(Tables.events(spark, dir).select("ts").head().getLong(0) === wantNanos)
    } finally spark.conf.set(tzKey, prev)
  }

  test("an unsupported ts physical type fails loudly, never guesses") {
    val dir = tmp()
    writeEvents(dir, StringType, "2024-03-01 12:34:56")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported"))
  }

  /** Drain eventsStream with AvailableNow and return the single ts. */
  private def drainStream(dir: String): Long = {
    val name = s"events_enc_${System.nanoTime()}"
    val q = Tables.eventsStream(spark, dir).select("ts").writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).head().getLong(0)
  }
}
