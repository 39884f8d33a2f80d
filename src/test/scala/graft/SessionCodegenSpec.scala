package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** What the shared session settings cost a restarted stream: every
  * `Trigger.AvailableNow` run clones the session, and a run that
  * repeats an earlier run's plan must find its generated classes in
  * Spark's codegen cache rather than compile them again. */
class SessionCodegenSpec extends AnyFunSuite with SparkSpec {

  test("a second AvailableNow run of a stateless file-source query compiles no class") {
    val base = Files.createTempDirectory("graft_codegen_restart_")
    val in = Files.createDirectories(base.resolve("in"))
    val ckpt = base.resolve("ckpt").toString
    def batch(i: Int): Unit = Files.write(in.resolve(s"b$i.json"),
      (0 until 20).map(j => s"""{"id":${i * 100 + j},"s":"x$j"}""").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def run(): Unit = spark.readStream.schema("id BIGINT, s STRING").json(in.toString)
      .selectExpr("id * 3 + 1 AS k", "upper(s) AS s", "length(s) + id AS n")
      .where("k % 2 = 0")
      .writeStream.format("parquet").option("path", base.resolve("out").toString)
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    batch(0)
    run()
    batch(1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0L, "classes the second run compiled")
    assert(spark.read.parquet(base.resolve("out").toString).count() === 20L)
    assert(Files.exists(Paths.get(ckpt, "commits", "1")))
  }
}
