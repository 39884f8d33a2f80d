package graft.sources

import org.apache.spark.scheduler.SparkListenerJobStart
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounting, SparkSpec}

/** What a commit's change feed costs in Spark jobs, on the upsert
  * stream's table shape (`deletionVectors` + `changeFeedKeys`). The
  * feed's share of a statement is its jobs minus those of the same
  * statement on an identical table without `changeFeedKeys`. */
class FeedJobsSpec extends AnyFunSuite with SparkSpec with JobCounting {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_feed_jobs_").toString

  private var n = 0
  private def freshTable(props: String): String = {
    spark.conf.set("spark.sql.catalog.fjb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fjb.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fjb.t")
    n += 1
    val name = s"fjb.t.tab$n"
    spark.sql(s"CREATE TABLE $name (id BIGINT, v BIGINT, tag STRING) " +
      s"USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true'$props)")
    spark.sql(s"INSERT INTO $name SELECT id, id * 10, 't' FROM range(0, 200)")
    name
  }

  /** A job a path read starts before any scan runs: parquet schema
    * inference (or the file listing behind it). */
  private def isPathReadJob(j: SparkListenerJobStart): Boolean =
    j.stageInfos.exists(_.details.contains("DataFrameReader"))

  /** (jobs the feed adds to `stmt`, path-read jobs of `stmt` on the
    * feeding table). */
  private def feedJobs(stmt: String => String): (Int, Int) = {
    val plain = freshTable("")
    val feeding = freshTable(", 'changeFeedKeys'='id'")
    val (_, without) = jobEventsDuring(spark.sql(stmt(plain)))
    val (_, withFeed) = jobEventsDuring(spark.sql(stmt(feeding)))
    (withFeed.size - without.size, withFeed.count(isPathReadJob))
  }

  test("a MERGE's feed starts no job and no commit runs schema inference") {
    val (feed, pathReads) = feedJobs(t => s"""MERGE INTO $t t
      USING (SELECT id, id * 100 AS v, 'm' AS tag FROM range(150, 250)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
    assert(feed === 0, "jobs the MERGE's feed started")
    assert(pathReads === 0, "schema-inference jobs during the MERGE")
  }

  test("a deletion-vector DELETE's feed starts no job and no commit runs schema inference") {
    val (feed, pathReads) = feedJobs(t => s"DELETE FROM $t WHERE id < 60")
    assert(feed === 0, "jobs the DELETE's feed started")
    assert(pathReads === 0, "schema-inference jobs during the DELETE")
  }

  test("a deletion-vector DELETE on a feeding table runs one job in total") {
    val t = freshTable(", 'changeFeedKeys'='id'")
    val (_, jobs) = jobsDuring(spark.sql(s"DELETE FROM $t WHERE id < 60"))
    assert(jobs === 1, "jobs the DELETE started")
    val root = s"$warehouse/t/tab$n"
    assert(spark.read.parquet(graft.operators.Versioned.feedDir(root, 1L))
      .where("change_type = 'removed'").count() === 60L)
  }

  test("loading a change feed starts no job; a range spanning ADD COLUMN exposes the column") {
    val t = freshTable(", 'changeFeedKeys'='id'")
    val root = s"$warehouse/t/tab$n"
    spark.sql(s"UPDATE $t SET v = -v WHERE id < 3")                      // v1
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $t VALUES (900, 9, 'n', 1.5)")              // v2
    def load(from: Long, to: Long) = spark.read.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", from)
      .option("endingVersion", to).load(root)
    val (df, jobs) = jobsDuring(load(1L, 2L))
    assert(jobs === 0, "jobs the change-feed load started")
    assert(df.columns.contains("old_score") && df.columns.contains("new_score"),
      df.columns.mkString(", "))
    assert(df.where("commit_version = 1").select("new_score").collect()
      .forall(_.isNullAt(0)))
    assert(df.where("commit_version = 2").select("new_score").head().getDouble(0) === 1.5)
    // a range before the evolution reads the schema of its own feeds
    assert(!load(0L, 1L).columns.contains("new_score"))
  }
}
