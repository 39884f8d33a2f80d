package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** The DataSource V2 surface over the version store: snapshot
  * resolution (latest / versionAsOf / timestampAsOf), real column
  * pruning and filter pushdown in the custom reader, the streaming
  * change feed, and the fail-loud contracts. */
class VersionedDsv2Spec extends AnyFunSuite with SparkSpec {

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_dsv2_spec_").toString
    import spark.implicits._
    val v0 = Seq((1L, 100L, "a"), (2L, 200L, "b"), (3L, 300L, null: String))
      .toDF("id", "price", "tag")
    val v1 = Seq((1L, 101L, "a"), (2L, 200L, "b"), (4L, 400L, "d"))
      .toDF("id", "price", "tag")
    Versioned.writeNextWithFeed(v0, r, Seq("id"), Seq("price", "tag"), Some(1000L))
    Versioned.writeNextWithFeed(v1, r, Seq("id"), Seq("price", "tag"), Some(2000L))
    r
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("latest snapshot read equals Versioned.read") {
    val dsv2 = spark.read.format("graft-versioned").load(root)
    assert(sorted(dsv2) === sorted(Versioned.read(spark, root)))
  }

  test("versionAsOf pins the snapshot; timestampAsOf resolves by commit stamp") {
    val v0 = spark.read.format("graft-versioned")
      .option("versionAsOf", "0").load(root)
    assert(sorted(v0) === sorted(Versioned.read(spark, root, Some(0L))))
    val asOf = spark.read.format("graft-versioned")
      .option("timestampAsOf", "1500").load(root)
    assert(sorted(asOf) === sorted(Versioned.readAsOf(spark, root, 1500L)))
    val err = intercept[Exception] {
      spark.read.format("graft-versioned")
        .option("versionAsOf", "0").option("timestampAsOf", "1500")
        .load(root).collect()
    }
    assert(err.getMessage.contains("not both"))
  }

  test("column pruning reaches the reader; filters push into the parquet scan") {
    val q = spark.read.format("graft-versioned").load(root)
      .filter(col("price") > 150L).select("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftVersionedScan"), s"custom scan missing in:\n$plan")
    // the filter column is read too: Spark re-applies pushed filters
    // above the scan, so only the projection and that column survive
    assert(plan.contains("ReadColumns: [id, price]"),
      s"pruning did not reach the reader in:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(price"),
      s"filter not pushed in:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
  }

  test("pushed equality and null-test filters return exact results") {
    val base = spark.read.format("graft-versioned").option("versionAsOf", "0")
    assert(base.load(root).filter(col("tag") === "b").collect()
      .map(_.getAs[Long]("id")).toSeq === Seq(2L))
    assert(base.load(root).filter(col("tag").isNull).collect()
      .map(_.getAs[Long]("id")).toSeq === Seq(3L))
    assert(base.load(root).filter(col("tag").isNotNull).count() === 2L)
    // count(*) (fully pruned projection) still counts every row
    assert(base.load(root).count() === 3L)
  }

  test("streaming change feed drains stored commits as micro-batches") {
    val name = "dsv2_feed_all"
    spark.readStream.format("graft-versioned")
      .option("changeFeed", "true").load(root)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.table(name)
    // v0: 3 'added' rows; v1: changed(1), removed(3), added(4)
    assert(got.count() === 6L)
    assert(got.filter(col("commit_version") === 0L).count() === 3L)
    val v1 = got.filter(col("commit_version") === 1L)
      .select("id", "change_type", "old_price", "new_price")
    assert(sorted(v1) === Seq("[1,changed,100,101]", "[3,removed,300,null]",
      "[4,added,null,400]"))
  }

  test("startingVersion skips earlier commits; feed matches snapshotDiff") {
    val name = "dsv2_feed_from1"
    spark.readStream.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "1").load(root)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.table(name)
      .select("id", "change_type", "old_price", "old_tag", "new_price", "new_tag")
    val want = graft.operators.Cdc.snapshotDiff(
        Versioned.read(spark, root, Some(0L)),
        Versioned.read(spark, root, Some(1L)),
        Seq("id"), Seq("price", "tag"))
      .select("id", "change_type", "old_price", "old_tag", "new_price", "new_tag")
    assert(sorted(got) === sorted(want))
  }

  test("batch change feed: full history, range slices, pushdown") {
    def feed(opts: (String, String)*) = {
      val r = spark.read.format("graft-versioned").option("changeFeed", "true")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(root)
    }
    // no range: the whole stored feed — v=0 bootstrap + v=1 diff
    val all = feed()
    assert(all.count() ===
      3L /* v0 added */ + 3L /* v1: changed(1), removed(3), added(4) */)
    // [1,1] is exactly the v=1 diff, matching the streamed drain
    val v1Rows = sorted(feed("startingVersion" -> "1", "endingVersion" -> "1")
      .select("id", "change_type", "old_price", "new_price"))
    assert(v1Rows === Seq("[1,changed,100,101]", "[3,removed,300,null]",
      "[4,added,null,400]"))
    // endingVersion excludes later commits
    assert(feed("endingVersion" -> "0")
      .where(col("change_type") =!= "added").isEmpty)
    // filters push into the feed scan (commit_version is a column)
    val plan = feed().where(col("change_type") === "removed")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("change_type"), plan)
    assert(feed().where(col("commit_version") === 1L).count() === 3L)
  }

  test("change feed by TIMESTAMP: batch bounds and streaming start resolve on stamps") {
    def feed(opts: (String, String)*) = {
      val r = spark.read.format("graft-versioned").option("changeFeed", "true")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(root)
    }
    // startingTimestamp = first feed commit stamped at-or-after
    // (stamps: v=0 @1000, v=1 @2000)
    assert(sorted(feed("startingTimestamp" -> "1500")
        .select("id", "change_type", "old_price", "new_price"))
      === Seq("[1,changed,100,101]", "[3,removed,300,null]",
        "[4,added,null,400]"))
    assert(feed("startingTimestamp" -> "1000").count() === 6L)
    // endingTimestamp = last feed commit stamped at-or-before
    assert(feed("endingTimestamp" -> "1999")
      .where(col("change_type") =!= "added").isEmpty)
    // mixing version and timestamp bounds is loud; so is a start past
    // the newest stamp or an end before the earliest
    def fails(frag: String)(opts: (String, String)*): Unit = {
      val e = intercept[Exception](feed(opts: _*).collect())
      def chain(x: Throwable): String =
        if (x == null) "" else x.getMessage + "||" + chain(x.getCause)
      assert(chain(e).contains(frag), s"$opts -> ${chain(e)}")
    }
    fails("mutually exclusive")(
      "startingVersion" -> "0", "startingTimestamp" -> "1000")
    fails("mutually exclusive")(
      "endingVersion" -> "1", "endingTimestamp" -> "2000")
    fails("after the newest")("startingTimestamp" -> "9999")
    fails("precedes the earliest")("endingTimestamp" -> "5")
    // the STREAMING drain accepts the same anchor
    val name = "dsv2_feed_ts"
    spark.readStream.format("graft-versioned")
      .option("changeFeed", "true").option("startingTimestamp", "1500")
      .load(root)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.table(name).count() === 3L)
    assert(spark.table(name).where(col("commit_version") === 0L).isEmpty)
    // a future streaming anchor streams nothing yet (only later commits)
    val name2 = "dsv2_feed_ts_future"
    spark.readStream.format("graft-versioned")
      .option("changeFeed", "true").option("startingTimestamp", "99999")
      .load(root)
      .writeStream.format("memory").queryName(name2)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.table(name2).isEmpty)
  }

  test("batch change feed fail-loud: no feed, inverted range, beyond latest") {
    import spark.implicits._
    // a root with versions but no stored feed
    val bare = java.nio.file.Files.createTempDirectory("graft_dsv2_nofeed_").toString
    Versioned.writeNext(Seq((1L, 2L)).toDF("id", "v"), bare)
    val e1 = intercept[Exception] {
      spark.read.format("graft-versioned")
        .option("changeFeed", "true").load(bare).collect()
    }
    assert(exceptionChain(e1).exists(_.contains("no change feed under")))
    val e2 = intercept[Exception] {
      spark.read.format("graft-versioned").option("changeFeed", "true")
        .option("startingVersion", "1").option("endingVersion", "0")
        .load(root).collect()
    }
    assert(exceptionChain(e2).exists(_.contains("startingVersion 1 > endingVersion 0")))
    val e3 = intercept[Exception] {
      spark.read.format("graft-versioned").option("changeFeed", "true")
        .option("startingVersion", "9").load(root).collect()
    }
    assert(exceptionChain(e3).exists(_.contains("beyond the newest")))
  }

  test("fail-loud: unsupported types, empty root") {
    val err2 = intercept[Exception] {
      spark.read.format("graft-versioned")
        .load(java.nio.file.Files.createTempDirectory("graft_dsv2_empty_").toString)
    }
    assert(err2.getMessage.contains("no versions"))
    // a column type outside the store's write set fails loudly at write
    // build; a Spark-written file holding one reads back exactly
    // through Spark's decoder
    import spark.implicits._
    val r2 = java.nio.file.Files.createTempDirectory("graft_dsv2_badtype_").toString
    val arrays = Seq((1L, Seq(1, 2))).toDF("id", "arr")
    Versioned.writeNext(arrays, r2)
    assert(spark.read.format("graft-versioned").load(r2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toSeq === Seq(1L -> Seq(1, 2)))
    val err3 = intercept[Exception] {
      arrays.write.format("graft-versioned").mode("append").save(r2)
    }
    assert(exceptionChain(err3).exists(_.contains("unsupported column type")))
  }

  private def exceptionChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
}
