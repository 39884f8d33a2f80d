package graft.sources

import java.nio.file.{Files => JF, Paths => JP}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounting, SparkSpec}
import graft.operators.{DeletionVectors, Versioned}

/** Incremental OPTIMIZE ([[Versioned.compactSmall]] via
  * `sys.compact(only_smaller_than => …)`): only the small-file tail is
  * rewritten, the clustered bulk hard-links over byte-identical, DV'd
  * small files materialize to live rows, and the no-op edge commits
  * nothing. */
class BinPackSpec extends AnyFunSuite with SparkSpec with JobCounting {

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft_binpack_").toString
    spark.conf.set("spark.sql.catalog.gbin", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbin.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbin.ns")
    w
  }

  private def sql(s: String): DataFrame = { warehouse; spark.sql(s) }

  private def names(root: String, v: Long): Set[String] =
    Versioned.dataFiles(JP.get(root, s"v=$v")).map(_.getFileName.toString).toSet

  test("only_smaller_than rewrites the small tail; the bulk hard-links over") {
    sql("DROP TABLE IF EXISTS gbin.ns.t1")
    sql("CREATE TABLE gbin.ns.t1 (id BIGINT, grp BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='id', 'writePartitions'='1')")
    spark.range(20000).selectExpr("id", "id % 7 AS grp")
      .createOrReplaceTempView("bulk1")
    sql("INSERT INTO gbin.ns.t1 SELECT id, grp FROM bulk1") // one big file
    sql("INSERT INTO gbin.ns.t1 VALUES (20000, 1)")         // three epoch-ish
    sql("INSERT INTO gbin.ns.t1 VALUES (20001, 2)")         // small-file
    sql("INSERT INTO gbin.ns.t1 VALUES (20002, 3)")         // appends
    val root = s"$warehouse/ns/t1"
    val pre = names(root, 3L)
    assert(pre.size === 4)
    val big = Versioned.dataFiles(JP.get(root, "v=3")).maxBy(JF.size)
      .getFileName.toString
    assert(JF.size(JP.get(root, "v=3", big)) > (64 << 10))
    val v = sql("CALL gbin.sys.compact(table => 'ns.t1', " +
      "target_file_bytes => 1048576, only_smaller_than => 16384)")
      .collect()(0).getLong(0)
    assert(v === 4L)
    val post = names(root, 4L)
    // the bulk file survives under its own name; the three small files
    // merged into one fresh file
    assert(post.contains(big), "the big file must carry, not rewrite")
    assert(!post.exists(pre - big), "every small file must be replaced")
    assert(post.size === 2, post.toString)
    assert(sql("SELECT count(*) FROM gbin.ns.t1").collect()(0).getLong(0)
      === 20003L)
    assert(sql("SELECT grp FROM gbin.ns.t1 WHERE id = 20001")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // history intact: the fragmented snapshot is still addressable
    assert(sql("SELECT count(*) FROM gbin.ns.t1 VERSION AS OF 3")
      .collect()(0).getLong(0) === 20003L)
    // idempotent edge: one surviving small file < 2 → no new commit
    val v2 = sql("CALL gbin.sys.compact(table => 'ns.t1', " +
      "target_file_bytes => 1048576, only_smaller_than => 16384)")
      .collect()(0).getLong(0)
    assert(v2 === 4L)
    assert(Versioned.versions(root) === (0L to 4L))
  }

  test("DV'd small files compact to live rows and shed their sidecars") {
    sql("DROP TABLE IF EXISTS gbin.ns.t2")
    sql("CREATE TABLE gbin.ns.t2 (id BIGINT, grp BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='id', 'writePartitions'='1', " +
      "'deletionVectors'='true')")
    spark.range(20000).selectExpr("id", "id % 7 AS grp")
      .createOrReplaceTempView("bulk2")
    sql("INSERT INTO gbin.ns.t2 SELECT id, grp FROM bulk2")
    sql("INSERT INTO gbin.ns.t2 VALUES (20000, 1), (20001, 2), (20002, 3)")
    sql("INSERT INTO gbin.ns.t2 VALUES (20003, 4), (20004, 5)")
    // DV-delete rows living ONLY in the small tail
    sql("DELETE FROM gbin.ns.t2 WHERE id IN (20001, 20004)")
    val root = s"$warehouse/ns/t2"
    assert(DeletionVectors.dvMap(JP.get(root, "v=3")).nonEmpty,
      "the DELETE must have taken the DV path")
    val v = sql("CALL gbin.sys.compact(table => 'ns.t2', " +
      "target_file_bytes => 1048576, only_smaller_than => 16384)")
      .collect()(0).getLong(0)
    assert(v === 4L)
    // the rewrite holds only live rows and carries no DV sidecars
    assert(DeletionVectors.dvMap(JP.get(root, "v=4")).isEmpty,
      "bin-packing must materialize the tail's DVs away")
    assert(sql("SELECT count(*) FROM gbin.ns.t2").collect()(0).getLong(0)
      === 20003L)
    assert(sql("SELECT id FROM gbin.ns.t2 WHERE id >= 20000 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(20000L, 20002L, 20003L))
  }

  test("zorder_by cannot combine with only_smaller_than") {
    sql("DROP TABLE IF EXISTS gbin.ns.t3")
    sql("CREATE TABLE gbin.ns.t3 (id BIGINT, v BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gbin.ns.t3 VALUES (1, 1)")
    val e = intercept[Exception] {
      sql("CALL gbin.sys.compact(table => 'ns.t3', zorder_by => 'id,v', " +
        "only_smaller_than => 1024)").collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("cannot combine")), chain(e).toString)
  }

  test("a DV'd, renamed and evolved table compacts to its live rows under " +
      "the logical schema and sheds the sidecars") {
    sql("DROP TABLE IF EXISTS gbin.ns.t4")
    sql("CREATE TABLE gbin.ns.t4 (id BIGINT, grp BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='id', 'writePartitions'='1', " +
      "'deletionVectors'='true')")
    spark.range(20000).selectExpr("id", "id % 7 AS grp")
      .createOrReplaceTempView("bulk4")
    sql("INSERT INTO gbin.ns.t4 SELECT id, grp FROM bulk4")
    sql("INSERT INTO gbin.ns.t4 VALUES (20000, 1), (20001, 2), (20002, 3)")
    // column mapping: files keep the birth name `grp`, reads see
    // `cat`; the re-added `grp` gets a fresh physical name
    sql("ALTER TABLE gbin.ns.t4 RENAME COLUMN grp TO cat")
    sql("ALTER TABLE gbin.ns.t4 ADD COLUMN tag STRING")
    sql("ALTER TABLE gbin.ns.t4 ADD COLUMN grp BIGINT")
    sql("INSERT INTO gbin.ns.t4 VALUES (20003, 4, 'x', 40), (20004, 5, 'y', 50)")
    sql("DELETE FROM gbin.ns.t4 WHERE id IN (20001, 20004)")
    val root = s"$warehouse/ns/t4"
    val v0 = Versioned.latestVersion(root).get
    assert(DeletionVectors.dvMap(JP.get(root, s"v=$v0")).nonEmpty,
      "the DELETE must have taken the DV path")
    val before = sql("SELECT * FROM gbin.ns.t4").collect().map(_.toString).sorted.toSeq
    val v = sql("CALL gbin.sys.compact(table => 'ns.t4', " +
      "target_file_bytes => 1048576, only_smaller_than => 16384)")
      .collect()(0).getLong(0)
    assert(v === v0 + 1)
    assert(DeletionVectors.dvMap(JP.get(root, s"v=$v")).isEmpty,
      "bin-packing must materialize the tail's DVs away")
    assert(spark.table("gbin.ns.t4").columns.toSeq === Seq("id", "cat", "tag", "grp"))
    assert(sql("SELECT * FROM gbin.ns.t4").collect().map(_.toString).sorted.toSeq
      === before)
    assert(sql("SELECT id, cat, tag, grp FROM gbin.ns.t4 WHERE id >= 20000 ORDER BY id")
      .collect().map(_.toString).toSeq ===
      Seq("[20000,1,null,null]", "[20002,3,null,null]", "[20003,4,x,40]"))
  }

  /** A table holding one big file (each test appends its small tail);
    * returns the root. */
  private def oneBigFile(t: String, props: String): String = {
    sql(s"DROP TABLE IF EXISTS gbin.ns.$t")
    sql(s"CREATE TABLE gbin.ns.$t (id INT, grp BIGINT) USING `graft-versioned` " +
      s"TBLPROPERTIES ($props)")
    spark.range(20000).selectExpr("CAST(id AS INT) AS id", "id % 7 AS grp")
      .createOrReplaceTempView(s"bulk_$t")
    sql(s"INSERT INTO gbin.ns.$t SELECT id, grp FROM bulk_$t")
    s"$warehouse/ns/$t"
  }

  test("bin-pack of a type-widened table reads only the small files' rows") {
    val root = oneBigFile("t5", "'writePartitions'='1', 'clusterBy'='id'")
    sql("ALTER TABLE gbin.ns.t5 ALTER COLUMN id TYPE BIGINT")
    assert(Versioned.readerFeatures(root).contains("type-widening"))
    sql("INSERT INTO gbin.ns.t5 VALUES (20000, 1)")
    sql("INSERT INTO gbin.ns.t5 VALUES (20001, 2)")
    sql("INSERT INTO gbin.ns.t5 VALUES (3000000000, 3)")
    val (v, read) = recordsReadDuring(
      Versioned.compactSmall(spark, root, smallerThanBytes = 16384,
        targetFileBytes = 1L << 20))
    assert(Versioned.dataFiles(JP.get(root, s"v=$v")).size === 2)
    assert(read === 3L, "the rewrite must read the three small rows only")
    assert(sql("SELECT count(*), max(id) FROM gbin.ns.t5").collect()(0)
      .toString === "[20003,3000000000]")
  }

  test("bin-pack of a row-tracked table reads only the small files' rows " +
      "and keeps their ids") {
    val root = oneBigFile("t6",
      "'writePartitions'='1', 'clusterBy'='id', 'rowTracking'='true'")
    sql("INSERT INTO gbin.ns.t6 VALUES (20000, 1)")
    sql("INSERT INTO gbin.ns.t6 VALUES (20001, 2)")
    sql("INSERT INTO gbin.ns.t6 VALUES (20002, 3)")
    def ids = sql("SELECT id, _row_id FROM gbin.ns.t6 WHERE id >= 19998")
      .collect().map(_.toString).sorted.toSeq
    val before = ids
    val (v, read) = recordsReadDuring(
      Versioned.compactSmall(spark, root, smallerThanBytes = 16384,
        targetFileBytes = 1L << 20))
    assert(Versioned.dataFiles(JP.get(root, s"v=$v")).size === 2)
    assert(read === 3L, "the rewrite must read the three small rows only")
    assert(ids === before)
    assert(sql("SELECT count(*) FROM gbin.ns.t6").collect()(0).getLong(0)
      === 20003L)
  }

  test("compaction keeps VARIANT in the store's framed encoding, " +
      "whole-table and bin-pack") {
    def variantTable(t: String): Unit = {
      sql(s"DROP TABLE IF EXISTS gbin.ns.$t")
      sql(s"CREATE TABLE gbin.ns.$t (id BIGINT, payload VARIANT) " +
        "USING `graft-versioned`")
      Seq((0, 3), (3, 6)).foreach { case (a, b) =>
        sql(s"INSERT INTO gbin.ns.$t SELECT id, " +
          s"parse_json(to_json(named_struct('n', id))) FROM range($a, $b)")
      }
    }
    def rows(t: String): Seq[String] = spark.table(s"gbin.ns.$t")
      .selectExpr("id", "to_json(payload)").orderBy("id")
      .collect().map(_.toString).toSeq
    val want = (0 until 6).map(i => s"[$i,{\"n\":$i}]")
    variantTable("t7")
    sql("CALL gbin.sys.compact(table => 'ns.t7')").collect()
    assert(rows("t7") === want)
    variantTable("t8")
    sql("CALL gbin.sys.compact(table => 'ns.t8', " +
      "target_file_bytes => 1048576, only_smaller_than => 1048576)").collect()
    assert(rows("t8") === want)
    Seq("t7", "t8").foreach { t =>
      val root = s"$warehouse/ns/$t"
      Versioned.dataFiles(JP.get(root, s"v=${Versioned.latestVersion(root).get}"))
        .foreach { f =>
          val fld = spark.read.parquet(f.toString).schema("payload")
          assert(fld.dataType === org.apache.spark.sql.types.BinaryType,
            s"$t: ${f.getFileName} stores payload as ${fld.dataType}")
        }
    }
  }

  test("compacting a row-tracked table whose re-added column reuses a " +
      "renamed column's name keeps every column's values") {
    sql("DROP TABLE IF EXISTS gbin.ns.t9")
    sql("CREATE TABLE gbin.ns.t9 (id BIGINT, grp BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO gbin.ns.t9 VALUES (1, 10), (2, 20)")
    sql("ALTER TABLE gbin.ns.t9 RENAME COLUMN grp TO cat")
    sql("ALTER TABLE gbin.ns.t9 ADD COLUMN grp BIGINT")
    sql("INSERT INTO gbin.ns.t9 VALUES (3, 30, 300)")
    def all = sql("SELECT id, cat, grp, _row_id FROM gbin.ns.t9 ORDER BY id")
      .collect().map(_.toString).toSeq
    val before = all
    assert(before.map(_.split(",").take(3).mkString(",")) ===
      Seq("[1,10,null", "[2,20,null", "[3,30,300"))
    sql("CALL gbin.sys.compact(table => 'ns.t9')").collect()
    assert(all === before)
  }
}
