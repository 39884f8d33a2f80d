package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.{Cdc, Versioned}

/** The stored change feed of every commit kind that feeds equals the
  * keyed diff of the two snapshots around it: `_changes/v=N` is
  * `Cdc.snapshotDiff(snapshot N-1, snapshot N)` (all-'added' for a
  * table's first version). Every table here keeps one live row per
  * feed key, the case in which a keyed diff is well defined. */
class FeedEquivalenceSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_feed_eq_").toString

  private var n = 0
  /** A fresh `changeFeedKeys='id'` table holding ids 0..39. */
  private def freshTable(props: String = "", cols: String = "v BIGINT, tag STRING",
                         extra: String = ""): (String, String) = {
    spark.conf.set("spark.sql.catalog.feq", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.feq.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS feq.t")
    n += 1
    val name = s"feq.t.tab$n"
    spark.sql(s"CREATE TABLE $name (id BIGINT, $cols) USING `graft-versioned` " +
      s"TBLPROPERTIES ('changeFeedKeys'='id'$props)")
    spark.sql(s"INSERT INTO $name SELECT id, id * 10, " +
      s"CASE WHEN id % 3 = 0 THEN NULL ELSE concat('t', id) END$extra FROM range(0, 40)")
    (name, s"$warehouse/t/tab$n")
  }

  private val Dv = ", 'deletionVectors'='true'"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The stored feed of `version` against the keyed diff of the
    * snapshots `read(version - 1)` and `read(version)`. */
  private def assertFeedIsDiff(root: String, version: Long,
                               read: Long => DataFrame,
                               keys: Seq[String] = Seq("id"),
                               stored: String => Column = col): Unit = {
    assert(Versioned.feedVersions(root).contains(version),
      s"v=$version stored no change feed")
    val cur = read(version)
    val payload = cur.columns.toSeq.filterNot(keys.contains)
    val prev = Versioned.versions(root).filter(_ < version).lastOption
    val diff = prev match {
      case Some(p) => Cdc.snapshotDiff(read(p), cur, keys, payload)
      case None => cur.select(keys.map(col) ++ Seq(lit("added").as("change_type")) ++
        payload.map(c => lit(null).cast(cur.schema(c).dataType).as(s"old_$c")) ++
        payload.map(c => col(c).as(s"new_$c")): _*)
    }
    val outCols = keys ++ Seq("change_type", "commit_version") ++
      payload.map("old_" + _) ++ payload.map("new_" + _)
    val expected = diff.withColumn("commit_version", lit(version))
      .select(outCols.map(col): _*)
    val feed = spark.read.parquet(Versioned.feedDir(root, version))
      .select(outCols.map(c => stored(c).as(c)): _*)
    assert(rows(feed) === rows(expected), s"feed of v=$version")
    // a published, dropped or fallen-back feed leaves no feed staging
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    val staging = try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_staging_feed_")).toList finally stream.close()
    assert(staging === Nil, s"feed staging left under $root")
  }

  private def sqlRead(t: String)(v: Long): DataFrame =
    spark.sql(s"SELECT * FROM $t VERSION AS OF $v")

  private def latest(root: String): Long = Versioned.latestVersion(root).get

  test("INSERT: the first commit and an append") {
    val (t, root) = freshTable()
    assertFeedIsDiff(root, 0L, sqlRead(t))
    spark.sql(s"INSERT INTO $t SELECT id, id, 'new' FROM range(40, 45)")
    assertFeedIsDiff(root, 1L, sqlRead(t))
  }

  test("INSERT OVERWRITE replaces every file") {
    val (t, root) = freshTable()
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id * 10 + id % 2, 'x' FROM range(20, 60)")
    assertFeedIsDiff(root, 1L, sqlRead(t))
  }

  for ((kind, props) <- Seq("merge-on-read" -> Dv, "copy-on-write" -> "")) {
    test(s"MERGE update + insert and UPDATE ($kind)") {
      val (t, root) = freshTable(props)
      spark.sql(s"""MERGE INTO $t t
        USING (SELECT id, id * 100 AS v, 'm' AS tag FROM range(30, 50)) s
        ON t.id = s.id
        WHEN MATCHED AND s.id % 2 = 0 THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
      assertFeedIsDiff(root, 1L, sqlRead(t))
      spark.sql(s"UPDATE $t SET tag = 'u' WHERE id < 12")
      assertFeedIsDiff(root, 2L, sqlRead(t))
      // an UPDATE that rewrites a row to its own value changes nothing
      spark.sql(s"UPDATE $t SET v = v WHERE id = 5")
      assertFeedIsDiff(root, 3L, sqlRead(t))
    }

    test(s"DELETE, translatable and not ($kind)") {
      val (t, root) = freshTable(props)
      spark.sql(s"DELETE FROM $t WHERE id >= 30")
      assertFeedIsDiff(root, 1L, sqlRead(t))
      spark.sql(s"DELETE FROM $t WHERE id % 4 = 1")
      assertFeedIsDiff(root, 2L, sqlRead(t))
      // matches nothing: an empty feed
      spark.sql(s"DELETE FROM $t WHERE id > 1000")
      assertFeedIsDiff(root, 3L, sqlRead(t))
    }
  }

  test("a pair of sides too big for one partition joins through an exchange") {
    val (t, root) = freshTable(Dv)
    val key = "spark.sql.maxSinglePartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try spark.sql(s"UPDATE $t SET v = v + 1 WHERE id % 2 = 0")
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assertFeedIsDiff(root, 1L, sqlRead(t))
  }

  test("a delete after an update on the same deletion-vector file") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"UPDATE $t SET v = -v WHERE id % 5 = 0")
    spark.sql(s"DELETE FROM $t WHERE id < 8")
    assertFeedIsDiff(root, 1L, sqlRead(t))
    assertFeedIsDiff(root, 2L, sqlRead(t))
  }

  test("a key-changing UPDATE on a deletion-vector table") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"UPDATE $t SET id = id + 100 WHERE id < 5")
    assertFeedIsDiff(root, 1L, sqlRead(t))
    // a key move onto a key that was just freed, beside a payload change
    spark.sql(s"UPDATE $t SET id = id - 100, v = v + 1 WHERE id >= 100")
    assertFeedIsDiff(root, 2L, sqlRead(t))
  }

  test("an UPDATE of a NULL-key row on a deletion-vector table") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"INSERT INTO $t VALUES (NULL, 1, 'n')")
    spark.sql(s"UPDATE $t SET v = 7 WHERE id IS NULL OR id = 3")
    assertFeedIsDiff(root, 1L, sqlRead(t))
    assertFeedIsDiff(root, 2L, sqlRead(t))
  }

  test("a MERGE with both a matched DELETE and a not-matched INSERT") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"""MERGE INTO $t t
      USING (SELECT id, id * 100 AS v, 'm' AS tag FROM range(30, 50)) s
      ON t.id = s.id
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
    assertFeedIsDiff(root, 1L, sqlRead(t))
  }

  test("a MERGE whose claim loses to a disjoint row-level commit rebases") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"INSERT INTO $t SELECT id, id, 'second' FROM range(40, 80)")  // v1
    val race = new RaceOnFirstClaim(CommitStore.active, () =>
      spark.sql(s"DELETE FROM $t WHERE id >= 70"))                           // v2
    CommitStore.withStore(race)(spark.sql(s"""MERGE INTO $t t
      USING (SELECT id, -id AS v, 'm' AS tag FROM range(0, 10)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v"""))                              // v3
    assert(race.fired)
    assert(latest(root) === 3L)
    assert(Versioned.commitRecord(root, 2L).replaced.nonEmpty)
    (1L to 3L).foreach(assertFeedIsDiff(root, _, sqlRead(t)))
    assert(spark.read.parquet(Versioned.feedDir(root, 3L))
      .where("change_type = 'changed'").count() === 9L)
  }

  test("a row-tracked deletion-vector table: MERGE, UPDATE and DELETE") {
    val (t, root) = freshTable(Dv + ", 'rowTracking'='true'")
    spark.sql(s"""MERGE INTO $t t
      USING (SELECT id, id * 100 AS v, 'm' AS tag FROM range(30, 50)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
    spark.sql(s"UPDATE $t SET tag = 'u' WHERE id < 12")
    spark.sql(s"DELETE FROM $t WHERE id BETWEEN 20 AND 25")
    (1L to 3L).foreach(assertFeedIsDiff(root, _, sqlRead(t)))
  }

  test("a VARIANT table: an insert-only MERGE and both kinds of DELETE") {
    val (t, root) = freshTable(Dv, "v BIGINT, tag STRING, doc VARIANT",
      """, parse_json(concat('{"a":', id, '}'))""")
    spark.sql(s"""MERGE INTO $t t
      USING (SELECT id, id * 100 AS v, 'm' AS tag,
             parse_json(concat('{"b":', id, '}')) AS doc FROM range(30, 50)) s
      ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v, tag, doc) VALUES (s.id, s.v, s.tag, s.doc)""")
    spark.sql(s"DELETE FROM $t WHERE id BETWEEN 20 AND 35")
    spark.sql(s"DELETE FROM $t WHERE id % 4 = 1")
    // VARIANT has no equality: compare its JSON text
    def jsonRead(v: Long): DataFrame = spark.sql(
      s"SELECT id, v, tag, to_json(doc) AS doc FROM $t VERSION AS OF $v")
    def jsonCol(c: String): Column =
      if (c.endsWith("_doc")) org.apache.spark.sql.functions.to_json(col(c)) else col(c)
    (1L to 3L).foreach(assertFeedIsDiff(root, _, jsonRead, stored = jsonCol))
  }

  test("streaming epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (t, root) = freshTable(Dv)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feed_eq_ckpt_").toString
    def drain(): Unit = src.toDF().toDF("id", "v", "tag").writeStream
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .toTable(t).awaitTermination()
    src.addData((100L, 1L, "a"), (101L, 2L, null))
    drain()
    src.addData((102L, 3L, "c"))
    drain()
    assert(latest(root) === 2L)
    assertFeedIsDiff(root, 1L, sqlRead(t))
    assertFeedIsDiff(root, 2L, sqlRead(t))
  }

  test("RESTORE, including rows a restore takes back out of a deletion vector") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 2")                      // v1: DVs
    spark.sql(s"UPDATE $t SET v = 0 WHERE id < 10")                    // v2
    spark.sql(s"INSERT INTO $t SELECT id, id, 'late' FROM range(40, 44)") // v3
    spark.sql(s"CALL feq.sys.restore(table => '${t.stripPrefix("feq.")}', version => 0)")
    assert(latest(root) === 4L)
    assertFeedIsDiff(root, 4L, sqlRead(t))
    // and forward again, past an overwrite
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id, 'ow' FROM range(0, 5)") // v5
    spark.sql(s"CALL feq.sys.restore(table => '${t.stripPrefix("feq.")}', version => 2)")
    assertFeedIsDiff(root, 5L, sqlRead(t))
    assertFeedIsDiff(root, 6L, sqlRead(t))
  }

  test("clone: v=0 of the clone is all-added, deletion vectors applied") {
    val (t, _) = freshTable(Dv)
    spark.sql(s"DELETE FROM $t WHERE id < 7")
    val tgt = s"t.clone$n"
    spark.sql(s"CALL feq.sys.clone(source => '${t.stripPrefix("feq.")}', target => '$tgt')")
    val croot = s"$warehouse/t/clone$n"
    assert(Versioned.feedVersions(croot) === Seq(0L))
    assertFeedIsDiff(croot, 0L, sqlRead(s"feq.$tgt"))
    assert(spark.read.parquet(Versioned.feedDir(croot, 0L)).count() === 33L)
  }

  test("column-mapped table: a renamed payload column feeds under its logical name") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    spark.sql(s"UPDATE $t SET w = w + 1 WHERE id < 5")
    assertFeedIsDiff(root, 1L, sqlRead(t))
    spark.sql(s"""MERGE INTO $t t USING (SELECT id, 7L AS w FROM range(35, 45)) s
      ON t.id = s.id WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w, tag) VALUES (s.id, s.w, 'm')""")
    assertFeedIsDiff(root, 2L, sqlRead(t))
    spark.sql(s"DELETE FROM $t WHERE id BETWEEN 10 AND 14")
    assertFeedIsDiff(root, 3L, sqlRead(t))
    assert(spark.read.parquet(Versioned.feedDir(root, 3L)).columns.contains("old_w"))
  }

  test("ADD COLUMN-evolved table: pre-evolution files null-fill the added column") {
    val (t, root) = freshTable(Dv)
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $t SELECT id, id, 'e', id / 2.0 FROM range(40, 44)") // v1
    spark.sql(s"UPDATE $t SET score = 1.5 WHERE id IN (3, 41)")               // v2
    spark.sql(s"DELETE FROM $t WHERE id IN (4, 42)")                           // v3
    spark.sql(s"""MERGE INTO $t t USING (SELECT id FROM range(38, 46)) s
      ON t.id = s.id WHEN MATCHED THEN UPDATE SET tag = 'mm'
      WHEN NOT MATCHED THEN INSERT (id, v, tag, score) VALUES (s.id, 0, 'n', 0.0)""") // v4
    (1L to 4L).foreach(assertFeedIsDiff(root, _, sqlRead(t)))
  }

  test("positions past a file's first row group: a DV DELETE and the RESTORE undoing it") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_feed_eq_rg_").toString
    // one file of many row groups, in id order: a row's id is its position
    spark.range(0, 200000).selectExpr("id", "id * 7 AS v")
      .coalesce(1).write.option("parquet.block.size", "65536")
      .parquet(s"$root/v=0")
    val files = Versioned.dataFiles(java.nio.file.Paths.get(root, "v=0"))
    val blocks = GroupParquetIo.readFooters(files).head.kept
    assert(blocks.size > 2, s"expected many row groups, got ${blocks.size}")
    val firstGroupRows = blocks.head.getRowCount
    VersionedWriteIo.deleteViaDv(spark, root,
      col("id") >= firstGroupRows && (col("id") % 997 === 3L || col("id") >= 199990L))
    Versioned.restoreTo(root, 0L)
    val read = (v: Long) => Versioned.read(spark, root, Some(v))
    val schema = read(0L).schema
    Versioned.writeFeedFor(spark, root, 1L, schema, Seq("id"), Seq("v"))
    Versioned.writeFeedFor(spark, root, 2L, schema, Seq("id"), Seq("v"))
    assertFeedIsDiff(root, 1L, read)
    assertFeedIsDiff(root, 2L, read)
    val removed = spark.read.parquet(Versioned.feedDir(root, 1L))
    assert(removed.count() > 100L && removed.where("change_type <> 'removed'").isEmpty)
    assert(spark.read.parquet(Versioned.feedDir(root, 2L))
      .where("change_type = 'added'").count() === removed.count())
  }

  test("writeNextWithFeed: a path-based root") {
    val root = java.nio.file.Files.createTempDirectory("graft_feed_eq_path_").toString
    import spark.implicits._
    Versioned.writeNextWithFeed(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, null))
      .toDF("id", "price", "tag"), root, Seq("id"), Seq("price", "tag"))
    Versioned.writeNextWithFeed(Seq((1L, 10L, "a"), (2L, 21L, "b"), (4L, 40L, "d"))
      .toDF("id", "price", "tag"), root, Seq("id"), Seq("price", "tag"))
    val read = (v: Long) => Versioned.read(spark, root, Some(v))
    assertFeedIsDiff(root, 0L, read)
    assertFeedIsDiff(root, 1L, read)
  }
}
