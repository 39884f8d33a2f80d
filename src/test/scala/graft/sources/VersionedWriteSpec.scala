package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** DSv2 WRITE path over the version store: append vs snapshot-replace
  * semantics, atomic commit (one rename), hard-linked append history,
  * commit stamps / time travel interop with the Versioned helpers,
  * streaming epoch commits with replay idempotence, and the fail-loud
  * matrix (schema drift on append, unsupported types, writes to pinned
  * snapshots). */
class VersionedWriteSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_w_${tag}_").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def df(t: (Long, Long, String)*): DataFrame =
    t.toDF("id", "price", "tag")

  test("bootstrap write creates v=0; read round-trips exactly") {
    val root = freshRoot("boot")
    val d = df((1L, 100L, "a"), (2L, 200L, "b"), (3L, 300L, null.asInstanceOf[String]))
    d.write.format("graft-versioned").option("create", "true")
      .mode("append").save(root)
    assert(Versioned.versions(root) === Seq(0L))
    assert(rows(spark.read.format("graft-versioned").load(root)) === rows(d))
    assert(rows(Versioned.read(spark, root)) === rows(d)) // helper interop
  }

  test("append commits prev ∪ new; overwrite replaces; history pinned") {
    val root = freshRoot("modes")
    df((1L, 100L, "a")).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    df((2L, 200L, "b")).write.format("graft-versioned")
      .mode("append").save(root)
    df((9L, 900L, "z")).write.format("graft-versioned")
      .mode("overwrite").save(root)
    assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
    def r = spark.read.format("graft-versioned") // fresh reader per call — options stick
    assert(rows(r.option("versionAsOf", "0").load(root)) === rows(df((1L, 100L, "a"))))
    assert(rows(r.option("versionAsOf", "1").load(root)) ===
      rows(df((1L, 100L, "a"), (2L, 200L, "b"))))
    assert(rows(r.load(root)) === rows(df((9L, 900L, "z"))))
  }

  test("append hard-links the previous version's files, never re-copies data") {
    val root = freshRoot("links")
    df((1L, 100L, "a")).repartition(1).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    df((2L, 200L, "b")).repartition(1).write.format("graft-versioned")
      .mode("append").save(root)
    val v0 = java.nio.file.Paths.get(root, "v=0")
    val v1 = java.nio.file.Paths.get(root, "v=1")
    val v0Keys = Versioned.dataFiles(v0).map(f =>
      java.nio.file.Files.readAttributes(f, "unix:ino").get("ino")).toSet
    val v1Keys = Versioned.dataFiles(v1).map(f =>
      java.nio.file.Files.readAttributes(f, "unix:ino").get("ino")).toSet
    // every v0 inode appears again in v1 (same physical file, linked)
    assert(v0Keys.subsetOf(v1Keys), s"v0 files not linked into v1: $v0Keys vs $v1Keys")
  }

  test("commitTs stamps flow to readAsOf and resolveAsOf") {
    val root = freshRoot("stamps")
    df((1L, 100L, "a")).write.format("graft-versioned")
      .option("create", "true").option("commitTs", "1000").mode("append").save(root)
    df((2L, 200L, "b")).write.format("graft-versioned")
      .option("commitTs", "3000").mode("append").save(root)
    assert(rows(Versioned.readAsOf(spark, root, 1500L)) === rows(df((1L, 100L, "a"))))
    assert(Versioned.resolveAsOf(root, 3500L) === 1L)
    // an unstamped option write still stamps (wall-clock micros)
    assert(Versioned.commitStamp(root, 0L) === Some(1000L))
  }

  test("empty write commits a readable zero-row version carrying the schema") {
    val root = freshRoot("empty")
    df((1L, 1L, "x")).filter(col("id") > 100).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    val back = spark.read.format("graft-versioned").load(root)
    assert(back.count() === 0L)
    assert(back.columns.toSeq === Seq("id", "price", "tag"))
  }

  test("VARIANT round-trips through the store; stats refuse; filters " +
      "stay residual") {
    import org.apache.spark.sql.functions.{col, expr}
    val root = freshRoot("variant")
    val src = spark.range(6).selectExpr("id AS doc_id",
      "CASE WHEN id = 5 THEN CAST(NULL AS VARIANT) ELSE " +
        "parse_json(to_json(struct(id * 3 AS n, " +
        "concat('k', id % 2) AS k, array(id, id + 1) AS xs))) END AS payload")
    src.write.format("graft-versioned").option("create", "true")
      .mode("append").save(root)
    val back = spark.read.format("graft-versioned").load(root)
    assert(back.schema("payload").dataType ===
      org.apache.spark.sql.types.VariantType)
    // extraction inverts ingestion — nested array field included
    val got = back.selectExpr("doc_id",
        "variant_get(payload, '$.n', 'bigint') AS n",
        "variant_get(payload, '$.k', 'string') AS k",
        "variant_get(payload, '$.xs[1]', 'bigint') AS x1")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got === Seq("[0,0,k0,1]", "[1,3,k1,2]", "[2,6,k0,3]",
      "[3,9,k1,4]", "[4,12,k0,5]", "[5,null,null,null]"))
    // type-contract refusals: no min/max stats for the variant column
    // (null counts may collect), and extraction predicates stay
    // engine-side residuals — empty PushedFilters on the scan
    val stats = graft.operators.FileStats.read(
      java.nio.file.Paths.get(root, "v=0"))
    assert(stats.nonEmpty, "stats sidecar must still exist")
    stats.values.foreach { fs =>
      fs.cols.get("payload").foreach { cs =>
        assert(cs.lo.isEmpty && cs.hi.isEmpty,
          s"variant min/max must be refused, got $cs")
      }
      assert(fs.cols.get("doc_id").forall(_.lo.nonEmpty),
        "sibling long column keeps its stats")
    }
    val q = back.filter(
      expr("variant_get(payload, '$.k', 'string')") === "k1" &&
        col("doc_id") >= 0L)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [GreaterThanOrEqual(doc_id,0)]")
      || plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,0)]"),
      s"sibling predicates still push; variant ones must not:\n$plan")
  }

  test("Versioned.read of a VARIANT table returns VARIANT, same values as " +
      "the DSv2 read") {
    val root = freshRoot("variantread")
    spark.range(4).selectExpr("id",
      "parse_json(to_json(struct(id * 2 AS n, concat('s', id) AS s))) " +
        "AS payload")
      .write.format("graft-versioned").option("create", "true")
      .mode("append").save(root)
    val viaRead = Versioned.read(spark, root)
    assert(viaRead.schema("payload").dataType ===
      org.apache.spark.sql.types.VariantType)
    def values(d: DataFrame): Seq[String] =
      d.selectExpr("id", "variant_get(payload, '$.n', 'bigint')",
          "variant_get(payload, '$.s', 'string')", "to_json(payload)")
        .orderBy("id").collect().map(_.toString).toSeq
    val expected =
      values(spark.read.format("graft-versioned").load(root))
    assert(values(viaRead) === expected)
    assert(expected.head === """[0,0,s0,{"n":0,"s":"s0"}]""")
  }

  test("a second path-based append to a VARIANT root aligns against " +
      "VARIANT and reads back as VARIANT") {
    val root = freshRoot("variantappend")
    def batch(from: Long) = spark.range(from, from + 3).selectExpr("id",
      "parse_json(to_json(struct(id * 2 AS n))) AS payload")
    batch(0L).write.format("graft-versioned").option("create", "true")
      .mode("append").save(root)
    batch(3L).write.format("graft-versioned").mode("append").save(root)
    val back = spark.read.format("graft-versioned").load(root)
    assert(back.schema("payload").dataType ===
      org.apache.spark.sql.types.VariantType)
    assert(back.selectExpr("id", "variant_get(payload, '$.n', 'bigint')")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 6L).map(i => (i, i * 2)))
  }

  test("fail-loud: append schema drift, unsupported type, write to pinned snapshot") {
    val root = freshRoot("loud")
    df((1L, 100L, "a")).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    val drift = intercept[Exception] {
      Seq((2L, "oops")).toDF("id", "tag").write.format("graft-versioned")
        .mode("append").save(root)
    }
    assert(chain(drift).exists(_.contains("append schema mismatch")) ||
      chain(drift).exists(_.contains("Cannot write incompatible data")) ||
      chain(drift).exists(_.contains("cannot resolve")), s"got: ${chain(drift)}")
    val badType = intercept[Exception] {
      Seq((1L, Seq(1, 2))).toDF("id", "arr").write.format("graft-versioned")
        .mode("overwrite").save(root)
    }
    assert(chain(badType).exists(_.contains("unsupported column type")))
    val pinned = intercept[Exception] {
      df((3L, 300L, "c")).write.format("graft-versioned")
        .option("versionAsOf", "0").mode("append").save(root)
    }
    assert(chain(pinned).exists(_.contains("time-travel pinned")))
  }

  test("streaming write: one version per epoch, append across batches") {
    val root = freshRoot("stream")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_w_ckpt_").toString
    mem.addData((1L, 100L, "a"), (2L, 200L, "b"))
    val q = mem.toDF().toDF("id", "price", "tag")
      .writeStream.format("graft-versioned")
      .option("path", root).option("create", "true")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    mem.addData((3L, 300L, "c"))
    val q2 = mem.toDF().toDF("id", "price", "tag")
      .writeStream.format("graft-versioned")
      .option("path", root).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(Versioned.versions(root).size === 2)
    assert(rows(Versioned.read(spark, root)) ===
      rows(df((1L, 100L, "a"), (2L, 200L, "b"), (3L, 300L, "c"))))
    // each committed version carries its epoch tag
    assert(VersionedWriteIo.epochCommitted(root, s"${q.id}:0"))
  }

  test("streaming epoch replay is idempotent (no double-append)") {
    val root = freshRoot("replay")
    val w = new GraftStreamingWrite(root,
      df((0L, 0L, "")).schema, replace = false,
      commitTs = Some(5000L), queryId = "qtest")
    val factory = w.createStreamingWriterFactory(null)
    val writer = factory.createWriter(0, 7L, 0L)
    Seq((1L, 100L, "a")).foreach { case (a, b, c) =>
      writer.write(org.apache.spark.sql.catalyst.InternalRow(
        a, b, org.apache.spark.unsafe.types.UTF8String.fromString(c)))
    }
    val msg = writer.commit()
    w.commit(0L, Array(msg))
    assert(Versioned.versions(root) === Seq(0L))
    assert(Versioned.commitStamp(root, 0L) === Some(5000L))
    // replay the same epoch: same files staged again, commit again
    val writer2 = factory.createWriter(0, 8L, 0L)
    writer2.write(org.apache.spark.sql.catalyst.InternalRow(
      1L, 100L, org.apache.spark.unsafe.types.UTF8String.fromString("a")))
    w.commit(0L, Array(writer2.commit()))
    assert(Versioned.versions(root) === Seq(0L), "replayed epoch double-committed")
    assert(Versioned.read(spark, root).count() === 1L)
  }

  test("speculative-attempt leftovers are dropped: only message-listed files commit") {
    val root = freshRoot("spec")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val bw = new GraftBatchWrite(root, df((0L, 0L, "")).schema,
      replace = false, commitTs = Some(1L), queryId = "qspec")
    val factory = bw.createBatchWriterFactory(null)
    val winner = factory.createWriter(0, 1L)
    winner.write(org.apache.spark.sql.catalyst.InternalRow(
      1L, 10L, org.apache.spark.unsafe.types.UTF8String.fromString("w")))
    val msg = winner.commit()
    // a speculative attempt whose file landed in staging but whose
    // message never reached the driver (its abort never ran either)
    val loser = factory.createWriter(0, 2L)
    loser.write(org.apache.spark.sql.catalyst.InternalRow(
      9L, 90L, org.apache.spark.unsafe.types.UTF8String.fromString("l")))
    loser.commit() // message dropped — as if the task lost the race
    bw.commit(Array(msg))
    assert(rows(Versioned.read(spark, root)) === rows(df((1L, 10L, "w"))))
  }

  test("timestamp columns round-trip and push down (LTZ + NTZ + date)") {
    val root = freshRoot("ts")
    val d = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'2024-03-01 10:00:00', TIMESTAMP_NTZ'2024-03-01 10:00:00', DATE'2024-03-01'),
        |  (2L, TIMESTAMP'2024-03-02 11:30:00.123456', TIMESTAMP_NTZ'2024-03-02 11:30:00.123456', DATE'2024-03-02'),
        |  (3L, CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP_NTZ), CAST(NULL AS DATE))
        |AS t(id, ts, ts_ntz, d)""".stripMargin)
    d.write.format("graft-versioned").option("create", "true")
      .mode("append").save(root)
    val back = spark.read.format("graft-versioned").load(root)
    assert(rows(back) === rows(d))
    // pushed comparison filters on all three temporal types return exact results
    val q = back.filter(col("ts") > lit(java.sql.Timestamp.valueOf("2024-03-01 12:00:00")))
      .select("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(ts"),
      s"timestamp filter not pushed in:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(back.filter(col("d") === lit(java.sql.Date.valueOf("2024-03-01")))
      .collect().map(_.getAs[Long]("id")).toSeq === Seq(1L))
    assert(back.filter(col("ts_ntz").isNull).collect()
      .map(_.getAs[Long]("id")).toSeq === Seq(3L))
  }

  test("row-group split: one multi-group file fans out to multiple partitions, rows exactly once") {
    val root = freshRoot("rg")
    // one physical file with MANY row groups (tiny block size)
    spark.range(0, 200000).selectExpr("id", "id * 7 AS v")
      .coalesce(1).write
      .option("parquet.block.size", "65536")
      .parquet(s"$root/v=0")
    val nFiles = Versioned.dataFiles(java.nio.file.Paths.get(s"$root/v=0")).size
    assert(nFiles === 1)
    val back = spark.read.format("graft-versioned").load(root)
    val nParts = back.rdd.getNumPartitions
    assert(nParts > 1, s"expected row-group fan-out from 1 file, got $nParts partition(s)")
    // no group dropped, none read twice — ids exactly once
    assert(back.count() === 200000L)
    assert(back.select("id").distinct().count() === 200000L)
    // pushed filters still prune: only the groups whose stats overlap survive
    assert(back.filter(col("id") >= 199990L).count() === 10L)
  }

  test("clusterBy write: Spark plans the range exchange, files cover disjoint key slices") {
    val root = freshRoot("cluster")
    // adversarial input: ids round-robined across partitions, so an
    // unclustered write would give every file the full [0, 40000) span
    spark.range(0, 40000).selectExpr("id", "id % 7 AS v")
      .repartition(8, col("v"))
      .write.format("graft-versioned").option("create", "true")
      .option("clusterBy", "id").option("writePartitions", "6")
      .mode("append").save(root)
    val files = Versioned.dataFiles(java.nio.file.Paths.get(s"$root/v=0"))
    assert(files.size > 1, "expected multiple range partitions")
    val spans = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min(col("id")), max(col("id"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"file key ranges overlap: $spans")
      case _ => ()
    }
    assert(spark.read.format("graft-versioned").load(root).count() === 40000L)
  }

  test("clusterBy fail-loud: unknown column rejected at write build") {
    val root = freshRoot("clusterbad")
    val err = intercept[Exception] {
      df((1L, 1L, "x")).write.format("graft-versioned")
        .option("create", "true").option("clusterBy", "nope")
        .mode("append").save(root)
    }
    assert(chain(err).exists(_.contains("clusterBy column 'nope'")))
  }

  test("pre-epoch timestamp filters push down with correct rounding") {
    val root = freshRoot("preepoch")
    val d = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIMESTAMP'1969-12-31 23:59:59.5'),
        |  (2L, TIMESTAMP'1970-01-01 00:00:00.5')
        |AS t(id, ts)""".stripMargin)
    d.write.format("graft-versioned").option("create", "true")
      .mode("append").save(root)
    val back = spark.read.format("graft-versioned").load(root)
    // truncation-toward-zero would map -0.5s to +0.5s and silently
    // return the WRONG row through the fully-pushed predicate
    assert(back.filter(col("ts") ===
        lit(java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(back.filter(col("ts") <
        lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00")))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("an unpinned DataFrame is a stable snapshot across later commits") {
    val root = freshRoot("pin")
    df((1L, 10L, "a")).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    val snap = spark.read.format("graft-versioned").load(root)
    assert(snap.count() === 1L)
    df((2L, 20L, "b")).write.format("graft-versioned").mode("append").save(root)
    // the df pinned v=0 at load time — a commit in between actions
    // must not change what it reads (two actions, one snapshot)
    assert(snap.count() === 1L)
    assert(rows(snap) === rows(df((1L, 10L, "a"))))
    // a FRESH load sees the new version
    assert(spark.read.format("graft-versioned").load(root).count() === 2L)
  }

  test("concurrent appends serialize: every writer commits, union survives") {
    val root = freshRoot("conc")
    df((0L, 0L, "base")).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    val schema = df((0L, 0L, "")).schema
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          val bw = new GraftBatchWrite(root, schema, replace = false,
            commitTs = Some(1000L + i), queryId = s"conc$i")
          val w = bw.createBatchWriterFactory(null).createWriter(0, i.toLong)
          w.write(org.apache.spark.sql.catalyst.InternalRow(
            i.toLong, i * 10L,
            org.apache.spark.unsafe.types.UTF8String.fromString(s"w$i")))
          bw.commit(Array(w.commit()))
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errors.isEmpty, s"concurrent commit failed: ${errors.peek()}")
    // 1 bootstrap + 4 appends, serialized into distinct versions
    assert(Versioned.versions(root) === Seq(0L, 1L, 2L, 3L, 4L))
    // the FINAL snapshot holds every writer's row plus the base —
    // no append was lost to a stale prev-link
    assert(rows(Versioned.read(spark, root)) === rows(df(
      (0L, 0L, "base"), (1L, 10L, "w1"), (2L, 20L, "w2"),
      (3L, 30L, "w3"), (4L, 40L, "w4"))))
  }

  test("txnAppId/txnVersion: a replayed batch commits nothing") {
    val root = freshRoot("txn")
    def write(ver: Long, rows: (Long, Long, String)*): Unit =
      df(rows: _*).write.format("graft-versioned")
        .option("txnAppId", "etl").option("txnVersion", ver.toString)
        .mode("append").save(root)
    write(1L, (1L, 100L, "a"))
    assert(Versioned.versions(root) === Seq(0L))
    // EXACT replay (a retried job): no new version, rows unchanged
    write(1L, (1L, 100L, "a"))
    assert(Versioned.versions(root) === Seq(0L))
    assert(Versioned.read(spark, root).count() === 1L)
    // the next app version commits
    write(2L, (2L, 200L, "b"))
    assert(Versioned.versions(root) === Seq(0L, 1L))
    // an OLDER app version replaying after a newer one: still skipped
    // (at-or-past semantics — Delta's txn contract)
    write(1L, (1L, 100L, "a"))
    assert(Versioned.versions(root) === Seq(0L, 1L))
    // a different application is unaffected
    df((9L, 900L, "z")).write.format("graft-versioned")
      .option("txnAppId", "other").option("txnVersion", "1")
      .mode("append").save(root)
    assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
    assert(rows(Versioned.read(spark, root)) ===
      Seq("[1,100,a]", "[2,200,b]", "[9,900,z]"))
    // rollback forgets the dropped commit's transaction → it replays
    Versioned.rollback(root)
    df((9L, 900L, "z")).write.format("graft-versioned")
      .option("txnAppId", "other").option("txnVersion", "1")
      .mode("append").save(root)
    assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
  }

  test("txn options fail loudly when malformed or streaming") {
    val root = freshRoot("txnbad")
    val e1 = intercept[Exception] {
      df((1L, 1L, "x")).write.format("graft-versioned")
        .option("txnAppId", "etl").mode("append").save(root)
    }
    assert(chain(e1).exists(_.contains("come as a pair")), chain(e1).toString)
    val e2 = intercept[Exception] {
      df((1L, 1L, "x")).write.format("graft-versioned")
        .option("txnAppId", "etl").option("txnVersion", "abc")
        .mode("append").save(root)
    }
    assert(chain(e2).exists(_.contains("txnVersion must be a long")), chain(e2).toString)
  }

  test("commit messages: option, session-conf fallback, option wins, absent = null") {
    val root = freshRoot("msg")
    df((1L, 1L, "a")).write.format("graft-versioned").option("create", "true")
      .option("commitMessage", "bootstrap load").mode("append").save(root)
    assert(VersionedWriteIo.commitMessage(root, 0L) === Some("bootstrap load"))
    // conf covers writers that take no options (SQL verbs)
    spark.conf.set("graft.versioned.commitMessage", "from-conf")
    try {
      df((2L, 2L, "b")).write.format("graft-versioned").mode("append").save(root)
      assert(VersionedWriteIo.commitMessage(root, 1L) === Some("from-conf"))
      // an explicit option beats the ambient conf
      df((3L, 3L, "c")).write.format("graft-versioned")
        .option("commitMessage", "explicit").mode("append").save(root)
      assert(VersionedWriteIo.commitMessage(root, 2L) === Some("explicit"))
    } finally spark.conf.set("graft.versioned.commitMessage", "")
    df((4L, 4L, "d")).write.format("graft-versioned").mode("append").save(root)
    assert(VersionedWriteIo.commitMessage(root, 3L) === None)
  }

  private def chain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
}
