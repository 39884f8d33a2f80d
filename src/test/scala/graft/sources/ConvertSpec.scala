package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** `sys.convert` — CONVERT TO DELTA's shape: an existing directory of
  * plain parquet files becomes v=0 of a named versioned table via
  * hard links + footer reads (O(files) metadata, zero data rewrite),
  * all-or-nothing, source untouched. */
class ConvertSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_convert_spec_").toString
    spark.conf.set("spark.sql.catalog.cvt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cvt.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cvt.ns")
    w
  }

  private var n = 0
  private def freshSrc(): Path = {
    n += 1
    Paths.get(warehouse, s"src_$n")
  }

  private def writeSample(dir: Path, parts: Int = 2): Unit = {
    import spark.implicits._
    (0L until 100L).map(i => (i, s"tag${i % 7}", i * 1.5))
      .toDF("id", "tag", "score")
      .repartition(parts).write.parquet(dir.toString)
  }

  private def inode(p: Path): Any = Files.getAttribute(p, "unix:ino")

  test("convert registers parquet files as v=0 by hard link, rows identical") {
    val src = freshSrc(); writeSample(src, parts = 3)
    val out = spark.sql(s"CALL cvt.sys.convert(source_dir => '$src', " +
      "target => 'ns.c1')").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "ns.c1")
    assert(out(0).getLong(1) === 0L)
    assert(out(0).getInt(2) === 3)
    // rows survive byte-identically
    assert(spark.sql("SELECT sum(id), count(*) FROM cvt.ns.c1")
      .collect()(0).toString === "[4950,100]")
    // every registered file shares an inode with a source file
    val root = s"$warehouse/ns/c1"
    val srcInodes = Versioned.listParquet(src).map(inode).toSet
    val regd = Versioned.dataFiles(Paths.get(root, "v=0"))
    assert(regd.size === 3)
    regd.foreach(f => assert(srcInodes.contains(inode(f)),
      s"$f must hard-link a source file"))
    // the commit is a full one: manifest + stats sidecar + stamp exist
    assert(Files.exists(Paths.get(root, "v=0", "_graft_files")))
    assert(Files.exists(Paths.get(root, "v=0", "_graft_stats")))
    assert(Versioned.commitStamp(root, 0L).nonEmpty)
    // ... and the stats sidecar actually skips: a refuted point lookup
    // plans zero files (data skipping works on converted files)
    val plan = spark.sql("SELECT * FROM cvt.ns.c1 WHERE id = -5")
      .queryExecution.executedPlan.toString
    assert(plan.contains("DataFiles: 0/3"), plan)
  }

  test("alien files in the source directory are ignored, source untouched") {
    val src = freshSrc(); writeSample(src)
    Files.write(src.resolve("junk.txt"), "not parquet".getBytes)
    Files.write(src.resolve("_SUCCESS"), Array.empty[Byte])
    val before = Versioned.listParquet(src).map(_.getFileName.toString).sorted
    spark.sql(s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c2')")
    assert(spark.sql("SELECT count(*) FROM cvt.ns.c2")
      .collect()(0).getLong(0) === 100L)
    val root = s"$warehouse/ns/c2"
    assert(Versioned.dataFiles(Paths.get(root, "v=0"))
      .map(_.getFileName.toString).sorted === before)
    // source dir still has everything it had
    assert(Files.exists(src.resolve("junk.txt")))
    assert(Versioned.listParquet(src).map(_.getFileName.toString).sorted === before)
  }

  test("the converted table is a full citizen: insert, mutate, time travel") {
    val src = freshSrc(); writeSample(src)
    spark.sql(s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c3')")
    spark.sql("INSERT INTO cvt.ns.c3 VALUES (1000, 'new', 0.5)")
    spark.sql("UPDATE cvt.ns.c3 SET score = -1.0 WHERE id = 1000")
    spark.sql("DELETE FROM cvt.ns.c3 WHERE id >= 50 AND id < 1000")
    assert(spark.sql("SELECT count(*) FROM cvt.ns.c3")
      .collect()(0).getLong(0) === 51L)
    assert(spark.sql("SELECT score FROM cvt.ns.c3 WHERE id = 1000")
      .collect()(0).getDouble(0) === -1.0)
    // v=0 is the conversion, addressable forever
    assert(spark.sql("SELECT count(*) FROM cvt.ns.c3 VERSION AS OF 0")
      .collect()(0).getLong(0) === 100L)
  }

  test("files with a column subset convert and null-fill like evolution") {
    import spark.implicits._
    val src = freshSrc()
    Seq((1L, "a")).toDF("id", "tag").coalesce(1).write.parquet(src.toString)
    Seq((2L, "b", 9.0)).toDF("id", "tag", "score").coalesce(1)
      .write.mode("append").parquet(src.toString)
    spark.sql(s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c4')")
    assert(spark.sql("SELECT id, score FROM cvt.ns.c4 ORDER BY id")
      .collect().map(_.toString).toSeq === Seq("[1,null]", "[2,9.0]"))
  }

  test("a footer outside the store's type contract refuses the conversion") {
    import spark.implicits._
    val src = freshSrc()
    // decimal is outside the store's column set
    Seq((1L, BigDecimal(2.5))).toDF("id", "amount")
      .write.parquet(src.toString)
    val e = intercept[Exception](spark.sql(
      s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c5')"))
    assert(e.getMessage.contains("amount"), e.getMessage)
    // nothing half-created: the table does not resolve
    intercept[Exception](spark.sql("SELECT * FROM cvt.ns.c5"))
  }

  test("INT96 timestamps are refused by name (this reader cannot decode them)") {
    import spark.implicits._
    val src = freshSrc()
    // restore the session's own setting afterwards: unset would fall
    // back to Spark's INT96 default, not the session's MICROS pin, and
    // leak INT96 timestamps into every later suite in this JVM
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts").write.parquet(src.toString)
    finally spark.conf.set(key, prev)
    val e = intercept[Exception](spark.sql(
      s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c6')"))
    assert(e.getMessage.contains("ts"), e.getMessage)
    intercept[Exception](spark.sql("SELECT * FROM cvt.ns.c6"))
  }

  test("empty source, existing target, and bad names all fail loudly") {
    val empty = freshSrc(); Files.createDirectories(empty)
    val e1 = intercept[Exception](spark.sql(
      s"CALL cvt.sys.convert(source_dir => '$empty', target => 'ns.c7')"))
    assert(e1.getMessage.contains("no *.parquet"), e1.getMessage)
    val src = freshSrc(); writeSample(src)
    spark.sql("CREATE TABLE cvt.ns.c8 (id BIGINT) USING `graft-versioned`")
    intercept[Exception](spark.sql(
      s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c8')"))
    assert(Versioned.fsck(s"$warehouse/ns/c8").contains((-1L, "staging-leftovers", 0L, "")))
    // a direct convert into a root that already has versions refuses
    // (under an object-store claim log too) and leaves nothing staged
    val versioned = Files.createTempDirectory("cvt_versioned_").toString
    Versioned.writeNext(spark.range(3).toDF("id"), versioned)
    val existingErr = CommitStore.withStore(new ObjectStoreSim(spuriousLosses = 1))(
      intercept[Exception](Versioned.convertFrom(src.toString, versioned)))
    assert(existingErr.getMessage.contains("already has versions"), existingErr.getMessage)
    assert(Versioned.fsck(versioned).contains((-1L, "staging-leftovers", 0L, "")))
    // ... and when a rival writer claims v=0 while the convert stages
    val raced = Files.createTempDirectory("cvt_raced_").toString
    val sim = new ObjectStoreSim(spuriousLosses = 1)
    val race = new RaceOnFirstClaim(sim,
      () => Versioned.writeNext(spark.range(5).toDF("id"), raced))
    val racedErr = CommitStore.withStore(race)(
      intercept[Exception](Versioned.convertFrom(src.toString, raced)))
    assert(racedErr.getMessage.contains("already has versions"), racedErr.getMessage)
    assert(sim.published(Paths.get(raced), 0L))
    assert(Versioned.versions(raced) === Seq(0L))
    assert(Versioned.fsck(raced).contains((-1L, "staging-leftovers", 0L, "")))
    val e3 = intercept[Exception](spark.sql(
      s"CALL cvt.sys.convert(source_dir => '$src', target => 'nodots')"))
    assert(e3.getMessage.contains("ns.table"), e3.getMessage)
  }

  test("a failed conversion leaves no staging debris in the table dir") {
    import spark.implicits._
    val src = freshSrc()
    Seq((1L, BigDecimal(2.5))).toDF("id", "amount").write.parquet(src.toString)
    intercept[Exception](spark.sql(
      s"CALL cvt.sys.convert(source_dir => '$src', target => 'ns.c9')"))
    val tdir = Paths.get(warehouse, "ns", "c9")
    if (Files.exists(tdir)) {
      val left = Files.list(tdir).iterator()
      assert(!left.hasNext, "staging dirs must be cleaned up on failure")
    }
  }
}
