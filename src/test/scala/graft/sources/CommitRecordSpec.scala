package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** One commit record per version: a commit's stamp, message and op
  * are part of what its claim publishes. A writer that dies right
  * after the claim ([[CrashAfterClaim]]) leaves a version that reads
  * with its stamp, message and op — `sys.history`, `TIMESTAMP AS OF`
  * and the snapshot read all agree — and the next writer commits on
  * top of it. */
class CommitRecordSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_record_spec_").toString
    spark.conf.set("spark.sql.catalog.rec", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rec.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rec.ns")
    w
  }

  private var n = 0
  /** A fresh catalog table `(id BIGINT, v BIGINT)` holding ids 0..9 at
    * v=0: (name, root). */
  private def freshTable(props: String = ""): (String, String) = {
    n += 1
    val name = s"rec.ns.t$n"
    val root = s"$warehouse/ns/t$n"
    spark.sql(s"CREATE TABLE $name (id BIGINT, v BIGINT) USING `graft-versioned`" +
      (if (props.isEmpty) "" else s" TBLPROPERTIES ($props)"))
    spark.sql(s"INSERT INTO $name SELECT id, id * 10 FROM range(0, 10)")
    (name, root)
  }

  private def rows(sql: String): Seq[(Long, Long)] =
    spark.sql(sql).as[(Long, Long)].collect().toSeq.sorted

  private def chain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq

  /** Run `body` on a store that dies right after its claim; the
    * version the claim published. */
  private def crashAfterClaim(body: => Any): Long = {
    val crash = new CrashAfterClaim(CommitStore.active)
    val e = intercept[Throwable](CommitStore.withStore(crash)(body))
    assert(chain(e).exists(_.contains(CrashAfterClaim.Marker)), chain(e))
    assert(crash.claimed.get >= 0L, "the claim must have published")
    crash.claimed.get
  }

  /** `TIMESTAMP AS OF` literal for a stamp in micros (the session is UTC). */
  private def asOf(stamp: Long): String =
    java.time.LocalDateTime.ofEpochSecond(stamp / 1000000L,
      (stamp % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** v is the latest version, stamped no earlier than its parent; its
    * op and message read back; `sys.history` agrees; `TIMESTAMP AS OF`
    * its stamp reads the same rows as the current read; and the next
    * INSERT commits v+1 on top of it. */
  private def assertFinal(name: String, root: String, v: Long, op: String,
                          message: Option[String]): Unit = {
    assert(Versioned.latestVersion(root) === Some(v))
    val stamp = Versioned.commitStamp(root, v)
    assert(stamp.isDefined, s"v=$v is unstamped")
    assert(stamp.get >= Versioned.commitStamp(root, v - 1).get)
    assert(Versioned.commitInfoOf(root, v).op === op)
    assert(VersionedWriteIo.commitMessage(root, v) === message)
    val h = spark.sql(s"CALL rec.sys.history(table => '${name.stripPrefix("rec.")}')")
      .collect().find(_.getLong(0) == v).get
    assert(Option(h.get(1)) === stamp)
    assert(h.getString(2) === op)
    assert(Option(h.getString(9)) === message)
    val current = rows(s"SELECT id, v FROM $name")
    assert(Versioned.resolveAsOf(root, stamp.get) === v)
    assert(rows(s"SELECT id, v FROM $name TIMESTAMP AS OF '${asOf(stamp.get)}'") ===
      current)
    spark.sql(s"INSERT INTO $name VALUES (1000, 1)")
    assert(Versioned.latestVersion(root) === Some(v + 1))
    assert(Versioned.commitStamp(root, v + 1).exists(_ >= stamp.get))
    assert(rows(s"SELECT id, v FROM $name") === (current :+ ((1000L, 1L))).sorted)
  }

  test("crash right after the claim: a DSv2 append keeps its stamp and message") {
    val (name, root) = freshTable()
    val v = crashAfterClaim(Seq((10L, 100L)).toDF("id", "v").writeTo(name)
      .option("commitMessage", "nightly load").append())
    assert(v === 1L)
    assert(rows(s"SELECT id, v FROM $name").contains((10L, 100L)))
    assertFinal(name, root, v, "write", Some("nightly load"))
  }

  test("crash right after the claim: a MERGE on a deletion-vector table") {
    val (name, root) = freshTable("'deletionVectors'='true'")
    val v = crashAfterClaim(spark.sql(s"MERGE INTO $name t " +
      "USING (SELECT id, id * 100 AS v FROM range(5, 15)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"))
    assert(rows(s"SELECT id, v FROM $name") ===
      ((0L until 5L).map(i => (i, i * 10)) ++ (5L until 15L).map(i => (i, i * 100))))
    assertFinal(name, root, v, "rowlevel", None)
  }

  test("crash right after the claim: a copy-on-write UPDATE") {
    val (name, root) = freshTable()
    val v = crashAfterClaim(spark.sql(s"UPDATE $name SET v = v + 1 WHERE id < 5"))
    assert(rows(s"SELECT id, v FROM $name") ===
      (0L until 10L).map(i => (i, i * 10 + (if (i < 5) 1 else 0))))
    assertFinal(name, root, v, "rowlevel", None)
  }

  test("crash right after the claim: a streaming epoch, whose replay is skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (name, root) = freshTable()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_record_ckpt_").toString
    def drain(): Unit = src.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .toTable(name).awaitTermination()
    src.addData((20L, 200L))
    val v = crashAfterClaim(drain())
    assertFinal(name, root, v, "stream-epoch", None)
    // the restarted stream replays the crashed epoch: its tag is in
    // the published record, so the replay commits nothing
    src.addData((21L, 201L))
    drain()
    assert(rows(s"SELECT id, v FROM $name") === ((0L until 10L).map(i => (i, i * 10)) ++
      Seq((20L, 200L), (21L, 201L), (1000L, 1L))).sorted)
  }

  test("crash right after the claim: restoreTo") {
    val (name, root) = freshTable()
    spark.sql(s"DELETE FROM $name WHERE id < 5")
    val v = crashAfterClaim(Versioned.restoreTo(root, 0L))
    assert(v === 2L)
    assert(rows(s"SELECT id, v FROM $name") === (0L until 10L).map(i => (i, i * 10)))
    assertFinal(name, root, v, "write", None)
  }

  private def history(name: String): Map[Long, org.apache.spark.sql.Row] =
    spark.sql(s"CALL rec.sys.history(table => '${name.stripPrefix("rec.")}')")
      .collect().map(r => r.getLong(0) -> r).toMap

  /** v=N holds none of the per-fact files commits wrote before the
    * record, and its record reads back op `op`. */
  private def assertRecordOnly(root: String, v: Long, op: String): Unit = {
    val markers = Seq("_graft_commit", "_graft_message", "_graft_epoch",
      "_graft_txn", "_graft_rowlevel")
      .filter(m => Files.exists(Paths.get(root, s"v=$v", m)))
    assert(markers.isEmpty, s"v=$v under $root holds $markers")
    assert(Versioned.commitInfoOf(root, v).op === op, s"v=$v under $root")
  }

  test("every commit kind records its facts in the manifest, in no marker file") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (name, root) = freshTable("'deletionVectors'='true'")
    def latest = Versioned.latestVersion(root).get
    assertRecordOnly(root, 0L, "write")                              // append
    spark.sql(s"INSERT OVERWRITE $name SELECT id, id FROM range(0, 20)")
    assertRecordOnly(root, latest, "write")                          // overwrite
    spark.sql(s"MERGE INTO $name t USING (SELECT id, 7L AS v FROM range(15, 25)) s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    assertRecordOnly(root, latest, "rowlevel")                       // MERGE, DVs
    spark.sql(s"DELETE FROM $name WHERE id < 3")
    assertRecordOnly(root, latest, "rowlevel")                       // DV DELETE
    Seq((30L, 3L)).toDF("id", "v").writeTo(name)
      .option("txnAppId", "loader").option("txnVersion", "4").append()
    assertRecordOnly(root, latest, "txn-write")                      // txn write
    assert(Versioned.commitRecord(root, latest).txn === Some(("loader", 4L)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Long)]
    src.addData((40L, 4L))
    src.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_record_kinds_ckpt_").toString)
      .trigger(Trigger.AvailableNow()).toTable(name).awaitTermination()
    assertRecordOnly(root, latest, "stream-epoch")                   // epoch
    val before = latest
    assert(Versioned.compactSmall(spark, root, Long.MaxValue) === before + 1)
    assertRecordOnly(root, latest, "rowlevel")                       // bin-pack
    Versioned.compact(spark, root)
    assertRecordOnly(root, latest, "write")                          // compact
    Versioned.restoreTo(root, 0L)
    assertRecordOnly(root, latest, "write")                          // restore
    val (cow, cowRoot) = freshTable()
    spark.sql(s"DELETE FROM $cow WHERE id < 3")
    assertRecordOnly(cowRoot, 1L, "write")                           // CoW DELETE
    val dst = Files.createTempDirectory("graft_record_dst_")
    Versioned.cloneTo(root, dst.resolve("clone").toString)
    assertRecordOnly(dst.resolve("clone").toString, 0L, "write")     // clone
    Seq((1L, 1L)).toDF("id", "v").write.parquet(dst.resolve("plain").toString)
    Versioned.convertFrom(dst.resolve("plain").toString, dst.resolve("conv").toString)
    assertRecordOnly(dst.resolve("conv").toString, 0L, "write")      // convert
    // sys.history reads the same records
    val h = history(name)
    Versioned.versions(root).foreach(v =>
      assert(h(v).getString(2) === Versioned.commitInfoOf(root, v).op))
  }

  test("a message holding a newline, a tab and Persian text round-trips") {
    val (name, root) = freshTable()
    val msg = "بارگذاری روزانه\nsecond line\tcolumn"
    Seq((50L, 5L)).toDF("id", "v").writeTo(name)
      .option("commitMessage", msg).append()
    assert(VersionedWriteIo.commitMessage(root, 1L) === Some(msg))
    assert(history(name)(1L).getString(9) === msg)
  }

  test("a merge-on-read MERGE records the session-conf message") {
    val (name, root) = freshTable("'deletionVectors'='true'")
    spark.conf.set("graft.versioned.commitMessage", "hourly upsert")
    try spark.sql(s"MERGE INTO $name t USING (SELECT 3L AS id, 1L AS v) s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    finally spark.conf.set("graft.versioned.commitMessage", "")
    assert(Versioned.commitInfoOf(root, 1L).op === "rowlevel")
    assert(history(name)(1L).getString(9) === "hourly upsert")
  }
}
