package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.{DeletionVectors, Versioned}

/** Merge-on-read deletion vectors (`deletionVectors=true` tables): a
  * DELETE hard-links every data file into the new version and records
  * row positions in per-file sidecars — no data file is rewritten, the
  * deleted rows disappear from every read path (snapshot, SQL, agg,
  * change feed), history stays addressable, and `sys.compact`
  * materializes the sidecars away. */
class DeletionVectorSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_dv_spec_").toString

  private var n = 0
  private def freshTable(extraProps: String = ""): (String, String) = {
    spark.conf.set("spark.sql.catalog.dv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dv.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dv.t")
    n += 1
    val name = s"dv.t.tab$n"
    spark.sql(s"CREATE TABLE $name (id BIGINT, grp STRING, v BIGINT) " +
      "USING `graft-versioned` " +
      s"TBLPROPERTIES ('deletionVectors'='true'$extraProps)")
    spark.sql(s"INSERT INTO $name SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END, id * 10 " +
      "FROM range(0, 100)")
    (name, s"$warehouse/t/tab$n")
  }

  private def inode(p: java.nio.file.Path): Any =
    java.nio.file.Files.getAttribute(p, "unix:ino")

  private def fileNames(root: String, v: Long): Set[String] =
    Versioned.dataFiles(java.nio.file.Paths.get(root, s"v=$v"))
      .map(_.getFileName.toString).toSet

  test("DV DELETE: no data file rewritten — hard-links + a sidecar") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id = 42")
    assert(Versioned.versions(root) === Seq(0L, 1L))
    // identical file set, identical inodes: nothing was rewritten
    assert(fileNames(root, 1L) === fileNames(root, 0L))
    fileNames(root, 0L).foreach { f =>
      assert(inode(java.nio.file.Paths.get(root, "v=0", f)) ===
        inode(java.nio.file.Paths.get(root, "v=1", f)),
        s"$f was rewritten, not hard-linked")
    }
    // exactly one position across the sidecars
    val dvs = DeletionVectors.dvMap(java.nio.file.Paths.get(root, "v=1"))
    assert(dvs.nonEmpty)
    assert(dvs.values.map(p => DeletionVectors.read(p).length).sum === 1)
    // the row is gone from every read form
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 99L)
    assert(spark.sql(s"SELECT * FROM $t WHERE id = 42").count() === 0L)
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect()(0).getLong(0) ===
      (0L until 100L).map(_ * 10).sum - 420L)
    // history intact: the pre-delete snapshot still shows it
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 0")
      .collect()(0).getLong(0) === 100L)
  }

  test("successive DV DELETEs merge sidecars; time travel sees each stage") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id < 10")        // v=1: 10 rows
    spark.sql(s"DELETE FROM $t WHERE id >= 90")       // v=2: 10 more
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 80L)
    assert(spark.sql(s"SELECT min(id), max(id) FROM $t").collect()(0).toSeq ===
      Seq(10L, 89L))
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
      .collect()(0).getLong(0) === 90L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 0")
      .collect()(0).getLong(0) === 100L)
    // v=2's sidecars hold the union of both deletes
    val dvs = DeletionVectors.dvMap(java.nio.file.Paths.get(root, "v=2"))
    assert(dvs.values.map(p => DeletionVectors.read(p).length).sum === 20)
    // still zero rewrites across the whole lifecycle
    assert(fileNames(root, 2L) === fileNames(root, 0L))
  }

  test("DELETE with a null-evaluating predicate keeps the null rows (P10)") {
    val (t, _) = freshTable()
    spark.sql(s"INSERT INTO $t VALUES (1000, NULL, NULL)")
    // v IS NULL on the fresh row -> v < 100 evaluates NULL -> row kept
    spark.sql(s"DELETE FROM $t WHERE v < 100")
    val ids = spark.sql(s"SELECT id FROM $t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.contains(1000L), "null-predicate row must be kept")
    assert(!ids.contains(5L), "v=50 < 100 must be deleted")
  }

  test("INSERT after a DV DELETE carries the sidecars (no resurrection)") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id < 50")
    spark.sql(s"INSERT INTO $t VALUES (500, 'new', 5000)")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 51L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id < 50")
      .collect()(0).getLong(0) === 0L)
    val dvs = DeletionVectors.dvMap(
      java.nio.file.Paths.get(root, s"v=${Versioned.latestVersion(root).get}"))
    assert(dvs.values.map(p => DeletionVectors.read(p).length).sum === 50)
  }

  test("UPDATE on a DV table (copy-on-write) must not resurrect DV'd rows") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 0") // 10 rows via DVs
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id % 2 = 1") // CoW rewrite
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 90L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id % 10 = 0")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect()(0).getLong(0) ===
      (0L until 100L).filter(_ % 10 != 0).map(i =>
        i * 10 + (if (i % 2 == 1) 1 else 0)).sum)
    // replaced files shed their sidecars (their rewrite excluded the
    // dead rows); if any file was carried, its sidecar survives
    val latest = Versioned.latestVersion(root).get
    val vdir = java.nio.file.Paths.get(root, s"v=$latest")
    val carried = fileNames(root, latest).intersect(fileNames(root, 1L))
    val dvs = DeletionVectors.dvMap(vdir)
    assert(dvs.keySet.subsetOf(carried),
      "a rewritten file must not keep a stale sidecar")
  }

  test("sys.compact materializes the DVs away") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id < 25")
    spark.sql(s"CALL dv.sys.compact(table => 't.tab$n')")
    val latest = Versioned.latestVersion(root).get
    assert(!DeletionVectors.hasDvs(java.nio.file.Paths.get(root, s"v=$latest")),
      "compaction must drop the sidecars")
    // fresh files (a real rewrite), same live content
    assert(fileNames(root, latest).intersect(fileNames(root, 0L)).isEmpty)
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $t").collect()(0).toSeq ===
      Seq(75L, (25L until 100L).map(_ * 10).sum))
    // and the pre-compaction DV version still reads correctly
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
      .collect()(0).getLong(0) === 75L)
  }

  test("restore and clone carry the sidecars with the files") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id >= 50")
    spark.sql(s"INSERT OVERWRITE $t SELECT id, 'x', id FROM range(0, 7)")
    spark.sql(s"CALL dv.sys.restore(table => 't.tab$n', version => 1)")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 50L,
      "restored snapshot must re-apply the DV")
    spark.sql(s"CALL dv.sys.clone(source => 't.tab$n', target => 't.tab${n}c')")
    assert(spark.sql(s"SELECT count(*) FROM dv.t.tab${n}c")
      .collect()(0).getLong(0) === 50L, "clone must carry the DV")
  }

  test("footer shortcuts are refused under DVs: agg answers stay exact") {
    val (t, root) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id = 0 OR id = 99")
    // count/min/max would all be wrong if answered from footers
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 98L)
    assert(spark.sql(s"SELECT min(id), max(id) FROM $t").collect()(0).toSeq ===
      Seq(1L, 98L))
    // LIMIT still returns enough rows (group-trimming refused)
    assert(spark.sql(s"SELECT * FROM $t LIMIT 98").count() === 98L)
    val noDvPlan = spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 0")
    assert(noDvPlan.collect()(0).getLong(0) === 100L)
  }

  test("pushed-looking filters still prune groups but return exact rows") {
    val (t, _) = freshTable()
    spark.sql(s"DELETE FROM $t WHERE id = 10")
    val got = spark.sql(s"SELECT id FROM $t WHERE id >= 5 AND id <= 15 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (5L to 15L).filterNot(_ == 10L))
  }

  test("DV masking across row groups: positions past a split file's first group") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_dv_rg_").toString
    // one physical file with MANY row groups, written in id order, so a
    // row's id is its ordinal in the file
    spark.range(0, 200000).selectExpr("id", "id * 7 AS v")
      .coalesce(1).write.option("parquet.block.size", "65536")
      .parquet(s"$root/v=0")
    val files = Versioned.dataFiles(java.nio.file.Paths.get(root, "v=0"))
    assert(files.size === 1)
    val blocks = GroupParquetIo.readFooters(files).head.kept
    assert(blocks.size > 2, s"expected many row groups, got ${blocks.size}")
    val firstGroupRows = blocks.head.getRowCount
    // every deleted position lies in the second or a later row group
    def doomed(c: org.apache.spark.sql.Column) =
      c >= firstGroupRows && (c % 997 === 3L || c >= 199990L)
    VersionedWriteIo.deleteViaDv(spark, root, doomed(col("id")))
    assert(DeletionVectors.hasDvs(java.nio.file.Paths.get(root, "v=1")))
    val survivors = spark.range(0, 200000).toDF("id").filter(!doomed(col("id")))
    val nSurvivors = survivors.count()
    assert(nSurvivors < 200000L - 10L)
    val back = spark.read.format("graft-versioned").load(root)
    assert(back.rdd.getNumPartitions > 1,
      "the DV'd file must still fan out per row group")
    def sameIds(a: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.count() === b.count())
      assert(a.select("id").exceptAll(b.select("id")).count() === 0L)
      assert(b.select("id").exceptAll(a.select("id")).count() === 0L)
    }
    sameIds(back, survivors)
    // `_pos` is the row's ordinal in the file on every surviving row
    val withPos = back.select(col("id"), col("_pos"))
    assert(withPos.count() === nSurvivors)
    assert(withPos.filter(col("id") =!= col("_pos")).count() === 0L)
    // a filtered read returns exactly the filtered survivors
    sameIds(back.filter(col("v") >= 7L * 150000L),
      survivors.filter(col("id") >= 150000L))
  }

  test("DV DELETE feeds the change feed: deleted keys appear as 'removed'") {
    val (t, root) = freshTable(extraProps = ", 'changeFeedKeys'='id'")
    spark.sql(s"DELETE FROM $t WHERE id < 3")
    val feed = spark.read.parquet(Versioned.feedDir(root, 1L))
    assert(feed.filter("change_type = 'removed'")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 2L))
    assert(feed.count() === 3L)
  }
}
