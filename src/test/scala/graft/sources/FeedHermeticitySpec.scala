package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** The stored change feed as EVIDENCE: q170-class compositions (IVM
  * from CDF) fold feed rows into standing aggregates, so a single
  * phantom or duplicated feed row silently corrupts every downstream
  * result. Two hermeticity properties pin that down:
  *
  *  1. feed dirs are MANIFEST-RESOLVED — a stray parquet file (a task
  *     retry's orphan the committer missed, an operator mistake) is
  *     invisible to the batch CDF range scan, the streaming drain, and
  *     the byte-budget admission path;
  *  2. the whole IVM-from-CDF composition is DETERMINISTIC across
  *     repeated end-to-end runs (the q170 driver flake of round 12:
  *     `hash_match:false` once, unreproducible — this is the
  *     N-iteration regression net).
  */
class FeedHermeticitySpec extends AnyFunSuite with SparkSpec {

  test("a reader never sees a feed dir without its manifest") {
    val warehouse = Files.createTempDirectory("graft_feed_pub_").toString
    spark.conf.set("spark.sql.catalog.fpub", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fpub.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpub.t")
    val t = "fpub.t.tab"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='id', 'deletionVectors'='true')")
    val changes = Paths.get(warehouse, "t", "tab", "_changes")
    // a reader polling the feed dirs while commits publish them
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val watcher = new Thread(() => {
      import scala.jdk.CollectionConverters._
      while (!stop) {
        val dirs =
          try {
            val s = Files.list(changes)
            try s.iterator().asScala.toList finally s.close()
          } catch { case _: java.io.IOException => Nil }
        dirs.filter(d => d.getFileName.toString.startsWith("v=") &&
            !Files.exists(d.resolve("_graft_files")))
          .foreach(d => torn.add(d.getFileName.toString))
      }
    })
    watcher.start()
    try {
      spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 40)")   // v0
      spark.sql(s"""MERGE INTO $t t USING (SELECT id, -id AS v FROM range(30, 50)) s
        ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")      // v1
      spark.sql(s"DELETE FROM $t WHERE id < 5")                           // v2
      spark.sql(s"UPDATE $t SET id = id + 100 WHERE id < 10")             // v3
      spark.sql(s"DELETE FROM $t WHERE id % 7 = 1")                       // v4
    } finally { stop = true; watcher.join() }
    val seen = torn.toArray.map(_.toString).distinct.toSeq
    assert(seen === Seq.empty, "feed dirs seen without a manifest")
    assert(Versioned.feedVersions(changes.getParent.toString) === (0L to 4L))
  }

  test("feed dirs are manifest-resolved: planted strays never replay a phantom change") {
    val root = Files.createTempDirectory("graft_feed_herm_").toString
    import spark.implicits._
    val v0 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "price")
    val v1 = Seq((1L, 11L), (2L, 20L), (4L, 40L)).toDF("id", "price")
    Versioned.writeNextWithFeed(v0, root, Seq("id"), Seq("price"))
    Versioned.writeNextWithFeed(v1, root, Seq("id"), Seq("price"))
    val feedDir = Paths.get(Versioned.feedDir(root, 1L))
    // the feed write manifested exactly its own files
    val manifest = feedDir.resolve("_graft_files")
    assert(Files.exists(manifest), "feed commit must write a files manifest")
    def drain(): Seq[String] =
      spark.read.format("graft-versioned")
        .option("changeFeed", "true").option("startingVersion", "1")
        .load(root)
        .select("id", "change_type", "old_price", "new_price")
        .collect().map(_.toString).toSeq.sorted
    val clean = drain()
    assert(clean.size === 3, s"v=1 diff: changed(1), added(4), removed(3): $clean")
    // plant a stray: a duplicated feed file (the task-retry double-emission
    // shape) — byte-identical rows under a name the manifest doesn't list
    val real = Versioned.dataFiles(feedDir).head
    Files.copy(real, feedDir.resolve("part-retry-duplicate.parquet"))
    assert(drain() === clean,
      "a stray feed file must be invisible to the manifest-resolved read")
    // the batch CDF range read agrees
    val batch = spark.read.format("graft-versioned")
      .option("changeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1")
      .load(root)
      .select("id", "change_type", "old_price", "new_price")
      .collect().map(_.toString).toSeq.sorted
    assert(batch === clean)
    // a plain directory read WOULD see the stray — proving the planted
    // file is a real hazard, not a no-op
    assert(spark.read.parquet(feedDir.toString).count() > 3)
  }

  test("feed overwrite (re-derivation) refreshes the manifest to the new files") {
    val root = Files.createTempDirectory("graft_feed_rederive_").toString
    import spark.implicits._
    Versioned.writeNextWithFeed(Seq((1L, 10L)).toDF("id", "price"),
      root, Seq("id"), Seq("price"))
    val feedDir = Paths.get(Versioned.feedDir(root, 0L))
    val before = Files.readString(feedDir.resolve("_graft_files"))
    // re-derive the same feed (idempotent maintenance) — manifest tracks
    Versioned.writeFeedFor(spark, root, 0L,
      Versioned.read(spark, root, Some(0L)).schema, Seq("id"), Seq("price"))
    val after = Files.readString(feedDir.resolve("_graft_files"))
    val names = Versioned.dataFiles(feedDir).map(_.getFileName.toString).sorted
    assert(after.linesIterator.map(_.drop(2)).toSeq.sorted === names)
    // and the drain still sees exactly one 'added' row
    val rows = spark.read.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "0")
      .load(root).collect()
    assert(rows.length === 1)
    assert(before.nonEmpty && after.nonEmpty)
  }

  test("q170 IVM-from-CDF is hermetic: N end-to-end runs, one answer") {
    val dir = "/root/testdata/sf0.001"
    val runs = (1 to 5).map { _ =>
      graft.queries.VersionedGate.queries("q170_ivm_from_cdf")(spark, dir)
        .collect().map(_.toString).toSeq
    }
    assert(runs.distinct.size === 1,
      s"q170 must be deterministic across runs; got ${runs.distinct.size} " +
        "distinct results")
    // and the one answer equals the recompute from the final table state
    val recompute = spark.sql(
      """SELECT grp, count(*) AS n, sum(chars) AS sum_chars
        |FROM graft.gate.docs170 GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(runs.head === recompute, "increment must equal recompute")
  }
}
