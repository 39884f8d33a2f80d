package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** `ALTER TABLE … ADD COLUMN` as a metadata-only commit: the manifest
  * evolves, no file is rewritten, and every pre-evolution file
  * null-fills the added column on read. Filters, aggregates, row-level
  * ops, and maintenance must all stay exact over the resulting
  * MIXED-schema snapshots. */
class SchemaEvolutionSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_evolve_spec_").toString

  private var n = 0
  private def freshTable(): (String, String) = {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val name = s"evo.t.tab$n"
    spark.sql(s"CREATE TABLE $name (id BIGINT, v BIGINT) USING `graft-versioned`")
    spark.sql(s"INSERT INTO $name SELECT id, id * 10 FROM range(0, 50)")
    (name, s"$warehouse/t/tab$n")
  }

  test("type widening matrix: metadata-only, mixed-file reads, pushdown, DML, loud refusals") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    val root = s"$warehouse/t/tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v INT, f FLOAT) USING `graft-versioned`")
    spark.sql(s"INSERT INTO $t SELECT id, cast(id AS INT), " +
      "cast(id AS FLOAT) FROM range(0, 50)")                       // narrow v=0
    val narrowFiles = graft.operators.Versioned.versions(root).size
    spark.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE DOUBLE")
    // metadata-only: no new version, manifest evolved, features flagged
    assert(graft.operators.Versioned.versions(root).size === narrowFiles,
      "widening must not rewrite or commit data")
    assert(spark.table(t).schema.map(_.dataType.simpleString) ===
      Seq("bigint", "bigint", "double"))
    assert(graft.operators.Versioned.readerFeatures(root).contains("type-widening"))
    assert(graft.operators.Versioned.writerFeatures(root).contains("type-widening"))
    // wide append BEYOND int/float exactness (1e10 > Int.MaxValue)
    spark.sql(s"INSERT INTO $t SELECT id, id * 10000000000, " +
      "id + 0.25 FROM range(100, 110)")
    // mixed-file scan: narrow rows widen exactly
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect()(0).getLong(0) ===
      (0L until 50L).sum + (100L until 110L).map(_ * 10000000000L).sum)
    // filter pushdown on the widened column across mixed files: the
    // narrow file must evaluate the long atom via the widening read
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v >= 40").collect()(0)
      .getLong(0) === 10L + 10L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE f = cast(0.25 AS DOUBLE) + 100")
      .collect()(0).getLong(0) === 1L)
    // footer MIN/MAX aggregate over mixed narrow+wide stats
    val mm = spark.sql(s"SELECT min(v), max(v) FROM $t").collect()(0)
    assert((mm.getLong(0), mm.getLong(1)) === (0L, 109L * 10000000000L))
    // UPDATE hits the narrow file: CoW reads narrow, re-encodes wide
    spark.sql(s"UPDATE $t SET v = v + 1000000000000 WHERE id < 5")
    assert(spark.sql(s"SELECT sum(v) FROM $t WHERE id < 5").collect()(0)
      .getLong(0) === (0L until 5L).sum + 5L * 1000000000000L)
    // DELETE keyed on the widened column across mixed files
    spark.sql(s"DELETE FROM $t WHERE v >= 1090000000000")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) ===
      50L + 10L - 1L)
    // refusals: cross-family and narrowing retypes stay loud
    def fails(sql: String): Boolean =
      try { spark.sql(sql); false } catch { case _: Throwable => true }
    assert(fails(s"ALTER TABLE $t ALTER COLUMN id TYPE INT"))
    assert(fails(s"ALTER TABLE $t ALTER COLUMN f TYPE STRING"))
    assert(fails(s"ALTER TABLE $t ALTER COLUMN id TYPE DOUBLE"))
  }

  test("type widening: the change feed spans the widening boundary") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    val root = s"$warehouse/t/tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v INT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='id')")
    spark.sql(s"INSERT INTO $t SELECT id, cast(id AS INT) FROM range(0, 10)") // v=0 narrow feed
    spark.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10000000000 FROM range(100, 105)") // v=1 wide feed
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id = 3") // v=2: old_v from a NARROW base row
    // the batch CDF range read spans narrow and wide feed files under
    // the WIDENED schema — pre-widening feed files must widen on read
    val feed = spark.read.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "0")
      .load(root)
    assert(feed.filter(org.apache.spark.sql.functions.col("change_type") === "added").count() === 15L)
    val upd = feed.filter(org.apache.spark.sql.functions.col("change_type") === "changed").collect()
    assert(upd.length === 1 && upd(0).getAs[Long]("old_v") === 3L &&
      upd(0).getAs[Long]("new_v") === 4L)
    // wide payloads round-trip exactly
    assert(feed.filter(org.apache.spark.sql.functions.col("new_v") === 104L * 10000000000L).count() === 1L)
  }

  test("type widening: OPTIMIZE and bin-pack compaction heal mixed-width files") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    val root = s"$warehouse/t/tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v INT) USING `graft-versioned`")
    spark.sql(s"INSERT INTO $t SELECT id, cast(id AS INT) FROM range(0, 30)")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10000000000 FROM range(100, 105)")
    val expect = (0L until 30L).sum + (100L until 105L).map(_ * 10000000000L).sum
    // bin-pack: small narrow + wide files merge through the widening
    // read; the rewrite re-encodes everything wide
    graft.operators.Versioned.compactSmall(spark, root,
      smallerThanBytes = 1L << 30)
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect()(0).getLong(0) === expect)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v >= 40").collect()(0)
      .getLong(0) === 5L)
    // full OPTIMIZE over the (now partially healed) table also works
    spark.sql(s"CALL evo.sys.compact(table => 't.tab$n')")
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect()(0).getLong(0) === expect)
  }

  test("ADD COLUMN is metadata-only; old rows read null, new inserts fill it") {
    val (t, root) = freshTable()
    val v0Files = graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$root/v=0"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    // no data version was written, no file touched
    assert(graft.operators.Versioned.versions(s"$root") === Seq(0L))
    assert(graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$root/v=0")) === v0Files)
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v", "tag"))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag IS NULL")
      .collect()(0).getLong(0) === 50L)
    spark.sql(s"INSERT INTO $t SELECT id, id, 'new' FROM range(100, 110)")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 60L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag = 'new'")
      .collect()(0).getLong(0) === 10L)
    // the filter on the evolved column refutes pre-evolution files at
    // planning, yet IS NULL keeps them
    assert(spark.sql(s"SELECT sum(id) FROM $t WHERE tag IS NULL")
      .collect()(0).getLong(0) === (0L until 50L).sum)
  }

  // the stats sidecar records column PRESENCE per file, so since the
  // file-skipping round this answers from the manifest (AggPushdownSpec
  // pins the path); the assertion here is value-exactness either way
  test("aggregates on the evolved column stay exact (manifest answers, footers refuse)") {
    val (t, _) = freshTable()
    spark.sql(s"ALTER TABLE $t ADD COLUMN w BIGINT")
    spark.sql(s"INSERT INTO $t SELECT id, id, id * 2 FROM range(1000, 1010)")
    val q = spark.sql(s"SELECT count(w) AS n, min(w) AS mn, max(w) AS mx, count(*) AS all FROM $t")
    val r = q.collect()(0)
    assert(r.getLong(0) === 10L)
    assert(r.getLong(1) === 2000L && r.getLong(2) === 2018L)
    assert(r.getLong(3) === 60L)
  }

  test("UPDATE and DELETE stay exact across mixed-schema files") {
    val (t, _) = freshTable()
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO $t SELECT id, id, 'x' FROM range(50, 60)")
    spark.sql(s"UPDATE $t SET tag = 'old' WHERE tag IS NULL AND id % 2 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag = 'old'")
      .collect()(0).getLong(0) === 25L)
    spark.sql(s"DELETE FROM $t WHERE tag = 'x' AND id % 2 = 1")
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 55L)
    // metadata-path delete over mixed files keeps the evolved column
    spark.sql(s"DELETE FROM $t WHERE id >= 55 AND id < 100")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag IS NOT NULL")
      .collect()(0).getLong(0) ===
      25L /* 'old' evens < 50 */ + 3L /* 'x' evens 50, 52, 54 */)
  }

  test("compaction preserves the evolved column over mixed files") {
    val (t, root) = freshTable()
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO $t SELECT id, id, 'y' FROM range(50, 60)")
    spark.sql(s"CALL evo.sys.compact(table => 't.tab$n')")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag = 'y'")
      .collect()(0).getLong(0) === 10L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE tag IS NULL")
      .collect()(0).getLong(0) === 50L)
  }

  test("layout TBLPROPERTIES can be set after creation; fail-loud matrix") {
    val (t, root) = freshTable()
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('clusterBy'='id', 'writePartitions'='3')")
    spark.sql(s"INSERT OVERWRITE $t SELECT id, id FROM range(0, 3000)")
    val files = graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$root/v=1"))
    assert(files.size === 3, s"writePartitions should control file count: $files")
    // disjoint id spans prove the cluster sort applied
    val spans = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(org.apache.spark.sql.functions.min("id"),
             org.apache.spark.sql.functions.max("id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, s"overlap: $spans")
      case _ => ()
    }

    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(m => m != null && m.contains(frag)),
        s"expected '$frag' in ${chain(e)}")
    }
    fails(s"ALTER TABLE $t ADD COLUMN id STRING", "already exists")
    fails(s"ALTER TABLE $t ADD COLUMN b BIGINT NOT NULL", "must be nullable")
    fails(s"ALTER TABLE $t ADD COLUMN m MAP<STRING,STRING>", "unsupported column type")
    fails(s"ALTER TABLE $t RENAME COLUMN v TO id", "already exists")
    // an unknown source column dies in Spark's analyzer, upstream of us
    fails(s"ALTER TABLE $t RENAME COLUMN nope TO w", "cannot be resolved")
    fails(s"ALTER TABLE $t SET TBLPROPERTIES ('clusterBy'='nope')",
      "not in table schema")
  }

  test("time travel applies the evolved schema to old snapshots (null-filled)") {
    val (t, _) = freshTable()
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(50, 60)") // v=1
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO $t SELECT id, id, 'z' FROM range(60, 70)") // v=2
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq === Seq("id", "v", "tag"))
    assert(v1.count() === 60L)
    assert(v1.where("tag IS NOT NULL").count() === 0L)
  }

  // ---- COLUMN MAPPING: RENAME/DROP as metadata-only evolution.
  // Files always store physical (birth) names; the mapping moves only
  // the logical binding, so pre-rename files stay readable unrewritten.

  test("RENAME COLUMN is metadata-only; old and new files both read back") {
    val (t, root) = freshTable()
    val v0Files = graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$root/v=0"))
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO price")
    // no data version written, no file touched
    assert(graft.operators.Versioned.versions(root) === Seq(0L))
    assert(graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$root/v=0")) === v0Files)
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "price"))
    // pre-rename files serve the renamed column
    assert(spark.sql(s"SELECT sum(price) FROM $t").collect()(0).getLong(0) ===
      (0L until 50L).map(_ * 10).sum)
    // a post-rename insert lands under the SAME physical name...
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(100, 110)")
    assert(spark.sql(s"SELECT sum(price) FROM $t WHERE id >= 100")
      .collect()(0).getLong(0) === (100L until 110L).sum)
    // ...so mixed-file reads agree and the OLD name is gone
    assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) === 60L)
    intercept[Exception] { spark.sql(s"SELECT v FROM $t").collect() }
  }

  test("filters on a renamed column push down and prune against old files") {
    val (t, root) = freshTable()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO price")
    val df = spark.sql(s"SELECT id FROM $t WHERE price = 250")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(25L))
    // the pushed filter reaches the scan in PHYSICAL (birth) name
    // space and prunes row groups: 4 clustered-ish groups, 1 kept
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("EqualTo(v,250)"),
      s"expected the physical-name pushed filter in the scan:\n$scan")
    assert(scan.contains("RowGroups: 1/"),
      s"expected footer-stats pruning through the mapping:\n$scan")
  }

  test("UPDATE and DELETE work across pre- and post-rename files") {
    val (t, _) = freshTable()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO price")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(100, 110)")
    spark.sql(s"UPDATE $t SET price = price + 1 WHERE id % 2 = 0 AND id < 100")
    spark.sql(s"DELETE FROM $t WHERE price >= 100 AND id >= 100")
    val got = spark.sql(s"SELECT id, price FROM $t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 50L).foreach { id =>
      assert(got(id) === id * 10 + (if (id % 2 == 0) 1 else 0), s"id=$id")
    }
    assert(got.keySet.filter(_ >= 100L) === Set.empty[Long])
  }

  test("DROP COLUMN hides the data; re-ADD of the name reads fresh nulls") {
    val (t, root) = freshTable()
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id"))
    assert(graft.operators.Versioned.versions(root) === Seq(0L),
      "DROP COLUMN must be metadata-only")
    intercept[Exception] { spark.sql(s"SELECT v FROM $t").collect() }
    // re-adding the SAME logical name must NOT resurrect the dropped
    // bytes: the physical name is retired, the new column is null
    spark.sql(s"ALTER TABLE $t ADD COLUMN v BIGINT")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE v IS NULL")
      .collect()(0).getLong(0) === 50L)
    spark.sql(s"INSERT INTO $t SELECT id, -id FROM range(200, 205)")
    assert(spark.sql(s"SELECT sum(v) FROM $t").collect()(0).getLong(0) ===
      (200L until 205L).map(-_).sum)
  }

  test("rename then compact: the rewrite keeps physical names consistent") {
    val (t, root) = freshTable()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO price")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(100, 110)")
    spark.sql(s"CALL evo.sys.compact(table => 't.tab$n')")
    assert(spark.sql(s"SELECT sum(price) FROM $t").collect()(0).getLong(0) ===
      (0L until 50L).map(_ * 10).sum + (100L until 110L).sum)
    // pre-compaction history still reads through the mapping
    assert(spark.sql(s"SELECT sum(price) FROM $t VERSION AS OF 0")
      .collect()(0).getLong(0) === (0L until 50L).map(_ * 10).sum)
  }

  test("rename follows the layout contract and the change feed") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    val root = s"$warehouse/t/tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='id', 'clusterBy'='v')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 20)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO price")
    // the persisted layout props followed the rename
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(100, 105)")
    spark.sql(s"UPDATE $t SET price = 0 WHERE id = 3")
    val feeds = graft.operators.Versioned.feedVersions(root)
    val last = spark.read.parquet(
      graft.operators.Versioned.feedDir(root, feeds.last))
    // post-rename feeds carry the NEW logical payload names
    assert(last.schema.fieldNames.contains("old_price") &&
      last.schema.fieldNames.contains("new_price"))
    assert(last.filter("change_type = 'changed'").count() === 1L)
  }

  // ---- WRITE-TIME schema evolution (Delta's mergeSchema/autoMerge):
  // an append whose source carries NEW columns evolves the manifest
  // under an explicit opt-in — metadata-only, same null-fill semantics
  // as ALTER TABLE ADD COLUMN — and stays loud otherwise.

  test("without the opt-in an extra-column append stays loud (analyzer or builder)") {
    val (t, _) = freshTable()
    import spark.implicits._
    val src = (100L until 110L).map(i => (i, i, s"tag$i"))
      .toDF("id", "v", "tag")
    // a plain table never advertises ACCEPT_ANY_SCHEMA — Spark's own
    // output resolution rejects the extra column during analysis
    val e = intercept[Exception](src.writeTo(t).append())
    def chain(x: Throwable): String =
      if (x == null) "" else x.getMessage + "||" + chain(x.getCause)
    assert(chain(e).toLowerCase.contains("column"), chain(e))
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("mergeSchema write option evolves a PATH-based root on append") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_evolve_path_").toString
    import spark.implicits._
    (0L until 20L).map(i => (i, i * 10)).toDF("id", "v")
      .write.format("graft-versioned").mode("append").save(root) // v=0
    // without the opt-in: loud, naming the escape hatches
    val e = intercept[Exception](
      (100L until 105L).map(i => (i, i, s"t$i")).toDF("id", "v", "tag")
        .write.format("graft-versioned").mode("append").save(root))
    def chain(x: Throwable): String =
      if (x == null) "" else x.getMessage + "||" + chain(x.getCause)
    assert(chain(e).toLowerCase.contains("column"), chain(e))
    // with it: the new version carries the evolved schema, the old
    // files null-fill on a mergeSchema read
    (100L until 105L).map(i => (i, i, s"t$i")).toDF("id", "v", "tag")
      .write.format("graft-versioned").option("mergeSchema", "true")
      .mode("append").save(root)
    assert(graft.operators.Versioned.versions(root) === Seq(0L, 1L))
    // v=1 holds MIXED footers (hard-linked v=0 files + the new ones) —
    // a path-based root reads the full evolved schema (the union of
    // the snapshot's footers)
    val cur = graft.operators.Versioned.readSnapshot(spark, root, 1L)
    assert(cur.schema.fieldNames.toSeq.sorted === Seq("id", "tag", "v"))
    assert(cur.count() === 25L)
    assert(cur.where("tag IS NULL").count() === 20L)
    assert(cur.where("tag IS NOT NULL").count() === 5L)
  }

  test("autoMerge table property evolves appends without a per-write option") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('autoMerge'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10)")
    import spark.implicits._
    Seq((100L, 1L, 0.5), (101L, 2L, 1.5)).toDF("id", "v", "score")
      .writeTo(t).append()
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(spark.sql(s"SELECT sum(score) FROM $t").collect()(0).getDouble(0)
      === 2.0)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE score IS NULL")
      .collect()(0).getLong(0) === 10L)
  }

  test("evolution stays loud for missing or retyped columns and column-mapped tables") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('autoMerge'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 50)")
    import spark.implicits._
    def chain(x: Throwable): String =
      if (x == null) "" else x.getMessage + "||" + chain(x.getCause)
    // a source MISSING an existing column cannot evolve — silent drops
    // are how ingestion corrupts tables
    val e1 = intercept[Exception](Seq((1L, "x")).toDF("id", "tag")
      .writeTo(t).append())
    assert(chain(e1).contains("schema mismatch"), chain(e1))
    // a RETYPED existing column cannot evolve either
    val e2 = intercept[Exception](Seq((1, 2, "x")).toDF("id", "v", "tag")
      .writeTo(t).append())
    assert(chain(e2).contains("schema mismatch"), chain(e2))
    // a column-mapped table routes to ALTER TABLE ADD COLUMN (a new
    // name colliding with a retired physical name must never rebind
    // dropped bytes)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    val e3 = intercept[Exception](
      (0L until 3L).map(i => (i, i, i)).toDF("id", "w", "extra")
        .writeTo(t).append())
    assert(chain(e3).contains("ADD COLUMN"), chain(e3))
    // SQL INSERT still lands positionally on the evolving table
    // (SELECT-list names are expression strings — case (3) renames)
    spark.sql(s"INSERT INTO $t SELECT id, id + 1 FROM range(100, 105)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE w = id + 1")
      .collect()(0).getLong(0) === 5L)
    // the positional path must NOT fire when a source column bearing a
    // REAL table column's name sits at a different position: writing
    // (w, extra) onto (id, w) with matching arity+types would silently
    // rebind w→id and extra→w — that shape is a writer mistake and
    // stays loud
    val e4 = intercept[Exception](
      (0L until 3L).map(i => (i + 1000L, i)).toDF("w", "extra")
        .writeTo(t).append())
    assert(chain(e4).contains("schema mismatch"), chain(e4))
  }

  test("MERGE WITH SCHEMA EVOLUTION evolves; plain MERGE stays strict") {
    val (t, root) = freshTable()
    spark.sql(s"SELECT 3L AS id, 333L AS v, 'fresh' AS note " +
      "UNION ALL SELECT 100L, 1L, 'new'").createOrReplaceTempView("evo_src")
    // plain MERGE: the extra source column is NOT written (Spark's
    // INSERT */UPDATE SET * expand over TARGET columns only)
    spark.sql(s"MERGE INTO $t t USING evo_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v"))
    assert(spark.sql(s"SELECT v FROM $t WHERE id = 100")
      .collect()(0).getLong(0) === 1L)
    // WITH SCHEMA EVOLUTION: the new column lands via the catalog's
    // metadata-only ADD COLUMN; matched rows carry it, others null
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $t t USING evo_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("id", "v", "note"))
    val got = spark.sql(s"SELECT id, note FROM $t WHERE id IN (3, 100, 7)")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(3L) === Some("fresh"))
    assert(got(100L) === Some("new"))
    assert(got(7L) === None)
    // history stayed versioned: the pre-evolution snapshot still reads
    // (new column null-filled, q152's contract)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 0 " +
      "WHERE note IS NOT NULL").collect()(0).getLong(0) === 0L)
  }

  test("evolved appends feed the change feed with the new payload columns") {
    spark.conf.set("spark.sql.catalog.evo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.evo.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evo.t")
    n += 1
    val t = s"evo.t.tab$n"
    val root = s"$warehouse/t/tab$n"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='id', 'autoMerge'='true')")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10)")
    import spark.implicits._
    Seq((100L, 7L, "fresh")).toDF("id", "v", "note").writeTo(t).append()
    val feeds = graft.operators.Versioned.feedVersions(root)
    val last = spark.read.parquet(
      graft.operators.Versioned.feedDir(root, feeds.last))
    assert(last.schema.fieldNames.contains("new_note"))
    assert(last.filter("change_type = 'added'").count() === 1L)
    assert(last.filter("new_note = 'fresh'").count() === 1L)
  }

  test("rename/drop fail-loud matrix: conflicts and referenced columns") {
    val (t, _) = freshTable()
    def fails(sql: String, fragment: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains(fragment) ||
        String.valueOf(e.getCause).contains(fragment),
        s"expected '$fragment' in: ${e.getMessage}")
    }
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT v_pos CHECK (v >= 0)")
    fails(s"ALTER TABLE $t RENAME COLUMN v TO w", "CHECK constraint")
    fails(s"ALTER TABLE $t DROP COLUMN v", "CHECK constraint")
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT v_pos")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('clusterBy'='v')")
    fails(s"ALTER TABLE $t DROP COLUMN v", "references it")
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('clusterBy')")
    spark.sql(s"ALTER TABLE $t DROP COLUMN v") // now fine
    fails(s"ALTER TABLE $t DROP COLUMN id", "last column")
  }
}
