package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** S13/S14/O3 ops parity: versioned write/read/rollback/retention,
  * validation guards, and the price-prediction feed. */
class VersionedSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_versioned").toString

  test("writeNext/read/rollback: version swap semantics (S13)") {
    val root = tmpRoot()
    val v0 = Versioned.writeNext(Seq((1, "a")).toDF("id", "v"), root)
    val v1 = Versioned.writeNext(Seq((2, "b")).toDF("id", "v"), root)
    assert((v0, v1) === (0L, 1L))
    assert(Versioned.read(spark, root).select("v").as[String].collect().toSeq === Seq("b"))
    // rollback restores the previous version as current
    assert(Versioned.rollback(root) === Some(0L))
    assert(Versioned.read(spark, root).select("v").as[String].collect().toSeq === Seq("a"))
  }

  test("a writeNext whose job fails partway leaves the root as it was") {
    val root = tmpRoot()
    Versioned.writeNext(Seq((1L, "a")).toDF("id", "v"), root)
    val boom = udf((i: Long) =>
      if (i == 7L) throw new IllegalStateException("planted task failure") else i)
    intercept[Exception](Versioned.writeNext(
      spark.range(0, 20, 1, 4).select(boom($"id").as("id"), lit("b").as("v")),
      root))
    assert(Versioned.latestVersion(root) === Some(0L))
    assert(Versioned.read(spark, root).select("v").as[String].collect().toSeq === Seq("a"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=1")))
    assert(Versioned.fsck(root).contains((-1L, "staging-leftovers", 0L, "")))
  }

  test("retention keeps newest 3 (utils_of_backup.py:155-164)") {
    val root = tmpRoot()
    (0 until 5).foreach(i => Versioned.writeNext(Seq(i).toDF("x"), root))
    assert(Versioned.applyRetention(root, keep = 3) === Seq(2L, 3L, 4L))
  }

  test("validateAgainst flags drift and emptiness (S14)") {
    val src = Seq((1, "a")).toDF("id", "v")
    assert(Versioned.validateAgainst(src, src).isEmpty)
    val missingCol = src.drop("v")
    assert(Versioned.validateAgainst(missingCol, src).exists(_.contains("column sets")))
    val empty = src.filter(lit(false))
    assert(Versioned.validateAgainst(empty, src).exists(_.contains("empty")))
  }

  test("nullAudit reports only columns with nulls (pre-write guard)") {
    val df = Seq((Some(1), "a"), (None, "b")).toDF("x", "y")
    assert(Versioned.nullAudit(df, Seq("x", "y")) === Map("x" -> 1L))
  }

  test("price-prediction feed: drop, filter, patch, guarded load (§3.3)") {
    val listings = Seq(
      ("u1", "apartment-sell", -1370, "img"),
      ("u2", "apartment-sell", 1390, "img"),
      ("u3", "villa-rent", 1380, "img"))
      .toDF("content_url", "cat3_slug", "construction_year", "images")
    val prep = PricePredictionFeed.prepare(listings)
    assert(prep.columns.toSet === Set("cat3_slug", "construction_year"))
    assert(prep.count() === 2)
    assert(prep.select("construction_year").as[Int].collect().sorted.toSeq === Seq(1369, 1390))
    val root = tmpRoot()
    assert(PricePredictionFeed.loadVersioned(prep, root) === 0L)
    // empty transform → guarded abort, nothing written
    val err = intercept[IllegalStateException] {
      PricePredictionFeed.loadVersioned(
        PricePredictionFeed.prepare(listings, cat3 = "nope"), tmpRoot())
    }
    assert(err.getMessage.contains("no rows"))
  }

  test("compact: fewer files, same content, history preserved (q130)") {
    val root = tmpRoot()
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 3).as("x"))
    Versioned.writeNext(df.repartition(16), root) // v=0: 16 small files
    val before = Versioned.dataFiles(java.nio.file.Paths.get(root, "v=0")).size
    assert(before === 16)
    val cv = Versioned.compact(spark, root)
    assert(cv === 1L)
    val after = Versioned.dataFiles(java.nio.file.Paths.get(root, s"v=$cv")).size
    assert(after < before)
    // content identical, both versions still addressable
    val old = Versioned.read(spark, root, Some(0L)).orderBy("id").collect()
    val neu = Versioned.read(spark, root, Some(1L)).orderBy("id").collect()
    assert(old.toSeq === neu.toSeq)
    // rollback restores the pre-compaction layout as current
    assert(Versioned.rollback(root) === Some(0L))
    assert(Versioned.dataFiles(java.nio.file.Paths.get(root, "v=0")).size === 16)
  }

  test("readAsOf: stamp resolution, exact boundary, error cases (q131)") {
    val root = tmpRoot()
    Versioned.writeNext(Seq((1, "v0")).toDF("id", "tag"), root, Some(1000L))
    Versioned.writeNext(Seq((1, "v1")).toDF("id", "tag"), root, Some(2000L))
    Versioned.writeNext(Seq((1, "v2")).toDF("id", "tag"), root, Some(3000L))
    def tagAt(ts: Long): String =
      Versioned.readAsOf(spark, root, ts).select("tag").as[String].head()
    assert(tagAt(2500L) === "v1") // between commits → latest ≤ asOf
    assert(tagAt(2000L) === "v1") // exact boundary is inclusive
    assert(tagAt(9999L) === "v2") // after last commit → current
    val early = intercept[IllegalStateException](tagAt(999L))
    assert(early.getMessage.contains("no version committed at or before"))
    // a root with NO stamps fails loudly rather than guessing from mtimes
    val root2 = tmpRoot()
    Versioned.writeNext(Seq(1).toDF("x"), root2)
    val unstamped = intercept[IllegalStateException] {
      Versioned.readAsOf(spark, root2, 5000L)
    }
    assert(unstamped.getMessage.contains("commit stamp"))
  }

  test("readAsOf skips a torn (unstamped) newest version instead of poisoning the root") {
    val root = tmpRoot()
    Versioned.writeNext(Seq((1, "v0")).toDF("id", "tag"), root, Some(1000L))
    Versioned.writeNext(Seq((1, "v1")).toDF("id", "tag"), root, Some(2000L))
    // simulate a writer crash between parquet write and manifest write
    Versioned.writeNext(Seq((1, "torn")).toDF("id", "tag"), root)
    def tagAt(ts: Long): String =
      Versioned.readAsOf(spark, root, ts).select("tag").as[String].head()
    assert(tagAt(1500L) === "v0") // older stamped versions still resolvable
    assert(tagAt(9999L) === "v1") // torn version is never selected
  }

  test("compact refuses a stampless current version on a time-travel root") {
    val root = tmpRoot()
    Versioned.writeNext(spark.range(0, 10).toDF("id"), root, Some(1000L))
    Versioned.writeNext(spark.range(0, 10).toDF("id"), root) // torn write
    val err = intercept[IllegalStateException](Versioned.compact(spark, root))
    assert(err.getMessage.contains("time-travel-enabled"))
    // the refusal names remedies that exist: roll back, or commit a
    // stamped version (a published version cannot be stamped later)
    assert(err.getMessage.contains("roll back the torn version"), err.getMessage)
    assert(err.getMessage.contains("commitTs"), err.getMessage)
    assert(!err.getMessage.contains("re-stamp"), err.getMessage)
    Versioned.writeNext(spark.range(0, 10).toDF("id"), root, Some(2000L))
    assert(Versioned.compact(spark, root) === 3L)
    // on a never-stamped root compaction stays legal (time travel unused)
    val plain = tmpRoot()
    Versioned.writeNext(spark.range(0, 10).toDF("id").repartition(4), plain)
    assert(Versioned.compact(spark, plain) === 1L)
  }

  test("compact carries its source's stamp; newer layout wins at that stamp") {
    val root = tmpRoot()
    Versioned.writeNext(spark.range(0, 100).toDF("id").repartition(8),
      root, Some(1000L))
    val cv = Versioned.compact(spark, root)
    assert(Versioned.commitStamp(root, cv) === Some(1000L))
    // time travel at the shared stamp resolves the compacted version
    val resolved = Versioned.readAsOf(spark, root, 1000L)
    assert(resolved.inputFiles.toSeq.forall(_.contains(s"v=$cv")))
    assert(resolved.count() === 100L)
  }

  test("CSV roundtrip replaces the chunked pandas path (S6/S15)") {
    val root = tmpRoot() + "/csv"
    val df = Seq((1, "a,b"), (2, "c\nd")).toDF("id", "txt")
    df.write.mode("overwrite").option("header", true).csv(root)
    val back = spark.read.option("header", true).option("multiLine", true)
      .schema("id INT, txt STRING").csv(root)
    assert(back.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "a,b"), (2, "c\nd")))
  }
}
