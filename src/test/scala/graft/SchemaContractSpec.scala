package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The round-8 events incident, generalized: every column the engine
  * types independently of the producer (orders/lineitem NTZ dates, the
  * float32 embedding contract) must canonicalize exactly across the
  * physical encodings a regenerated fixture could plausibly ship, or
  * fail loudly at the scan with the column named. */
class SchemaContractSpec extends AnyFunSuite with SparkSpec with JobCounting {

  private def tmp(): String = Files.createTempDirectory("contract").toString

  // 1998-09-01 23:59:59 UTC, in micros
  private val instantMicros = 904694399000000L

  private def writeOrders(dir: String, tsType: DataType, tsValue: Any): Unit = {
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", tsType),
      StructField("o_orderpriority", StringType)))
    spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, 2L, "O", 10.0, tsValue, "1-URGENT")),
        schema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def ntzOrderDate = java.time.LocalDateTime.ofEpochSecond(
    instantMicros / 1000000L, 0, java.time.ZoneOffset.UTC)

  test("Tables.table infers a fresh file's schema with at most one job, then reuses it with none") {
    val dir = tmp(); writeOrders(dir, TimestampNTZType, ntzOrderDate)
    val (first, firstJobs) = jobsDuring(Tables.orders(spark, dir).schema)
    val (second, secondJobs) = jobsDuring(Tables.orders(spark, dir).schema)
    assert(firstJobs <= 1, s"first read started $firstJobs jobs")
    assert(secondJobs === 0, s"repeat read of an unchanged file started $secondJobs jobs")
    assert(first === second)
  }

  test("regenerating orders.parquet without a contracted column at the same path fails naming it") {
    val dir = tmp(); writeOrders(dir, TimestampNTZType, ntzOrderDate)
    assert(Tables.orders(spark, dir).columns.contains("o_orderdate"))
    spark.range(1).toDF("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val err = intercept[IllegalArgumentException](Tables.orders(spark, dir))
    assert(err.getMessage.contains("o_orderdate"))
  }

  test("orders.o_orderdate: NTZ passes through; LTZ converts to the same UTC wall clock") {
    val d1 = tmp(); writeOrders(d1, TimestampNTZType, ntzOrderDate)
    val viaNtz = Tables.orders(spark, d1)
    assert(viaNtz.schema("o_orderdate").dataType === TimestampNTZType)

    val d2 = tmp()
    writeOrders(d2, TimestampType,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(instantMicros / 1000000L)))
    val viaLtz = Tables.orders(spark, d2)
    assert(viaLtz.schema("o_orderdate").dataType === TimestampNTZType)
    assert(viaLtz.select("o_orderdate").head().get(0) ===
      viaNtz.select("o_orderdate").head().get(0))
  }

  test("orders.o_orderdate LTZ conversion is session-timezone independent") {
    val dir = tmp()
    writeOrders(dir, TimestampType,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(instantMicros / 1000000L)))
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "Asia/Tehran")
      val got = Tables.orders(spark, dir)
        .select("o_orderdate").head().get(0).toString
      assert(got.startsWith("1998-09-01T23:59:59"), s"wall clock drifted: $got")
    } finally spark.conf.set(tzKey, prev)
  }

  test("orders.o_orderdate as DATE widens to NTZ midnight; garbage type fails loudly") {
    val d1 = tmp()
    writeOrders(d1, DateType, java.sql.Date.valueOf("1998-09-01"))
    val viaDate = Tables.orders(spark, d1)
    assert(viaDate.schema("o_orderdate").dataType === TimestampNTZType)
    assert(viaDate.select("o_orderdate").head().get(0).toString
      .startsWith("1998-09-01T00:00"))
    val d2 = tmp()
    writeOrders(d2, StringType, "1998-09-01")
    val err = intercept[IllegalStateException](Tables.orders(spark, d2))
    assert(err.getMessage.contains("o_orderdate"))
  }

  test("embeddings.embedding: double arrays canonicalize to float32; garbage fails loudly") {
    val schemaD = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    val d1 = tmp()
    spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, Seq(0.5, 1.25, -2.0), 3)), schemaD)
      .repartition(1).write.mode("overwrite").parquet(s"$d1/embeddings.parquet")
    val emb = Tables.embeddings(spark, d1)
    assert(emb.schema("embedding").dataType === ArrayType(FloatType, true))
    assert(emb.select("embedding").head().getSeq[Float](0) ===
      Seq(0.5f, 1.25f, -2.0f))

    val schemaS = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", StringType),
      StructField("label", IntegerType)))
    val d2 = tmp()
    spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, "not-a-vector", 3)), schemaS)
      .repartition(1).write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val err = intercept[IllegalStateException](Tables.embeddings(spark, d2))
    assert(err.getMessage.contains("embedding"))
  }

  test("a missing contracted column names itself and the found columns") {
    val dir = tmp()
    spark.range(1).toDF("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val err = intercept[IllegalArgumentException](Tables.orders(spark, dir))
    assert(err.getMessage.contains("o_orderdate") &&
      err.getMessage.contains("o_orderkey"))
  }
}
