package graft.pipebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{DeletionVectors, ListingTransforms, Versioned}
import graft.streaming.StreamPipelines

/** listing_store: rounds of writes beside reads on a `graft-versioned`
  * table with deletion vectors. A round stages the generator's raw
  * divar fetches, drains them with an AvailableNow stream (divar
  * transform → watermarked dedup → foreachBatch MERGE INTO), DELETEs
  * stale listings and compacts, and then reads: a
  * full snapshot scan, a selective filtered aggregate, a VERSION AS OF
  * read and the change feed of the round. */
final class ListingStoreWorkload(spark: SparkSession, t: Tracer, a: Main.Args)
    extends Workload {
  private val base = a.data
  private val inbox = s"$base/inbox"
  private val checkpoint = s"$base/checkpoint"
  private val warehouse = s"$base/warehouse"
  private val table = "graft.bench.listings"
  private val root = s"$warehouse/bench/listings"
  // six files a round, three per trigger: two MERGE commits a round
  private val FilesPerTrigger = "3"
  // untimed warm-up rounds: the commit path keeps getting faster over
  // the first rounds of a JVM, so the timed rounds start past the
  // steepest part of that trend
  private val WarmRounds = 2
  // a run ends only after two timed rounds, even past --seconds; round
  // MinRounds is also where the store facts are taken, a fixed point
  private val MinRounds = WarmRounds + 1
  // generator constants: rounds are ROUND_S apart in event time
  private val roundS = 3L * 3600L
  private val t0S = 1735689600L
  private val cities = (0 until 16).map(i => s"city$i")

  private var round = 0
  private val roundVersion = mutable.ArrayBuffer.empty[Long]
  private val log = mutable.ArrayBuffer.empty[String]
  private var storeFacts = "null"
  // deletion-vector files right after the DELETE of round MinRounds
  private var dvFiles = 0

  private val envelope = StructType(Seq(
    StructField("content_url", StringType), StructField("fetched_s", LongType),
    StructField("raw", StringType)))

  def warmUp(out: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    Files.createDirectories(Paths.get(inbox))
    // every micro-batch carries staged rows, so each is one MERGE commit
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    spark.sql(s"""CREATE TABLE $table (content_url STRING, fetched_s BIGINT,
      |title STRING, cat2_slug STRING, cat3_slug STRING, city_slug STRING,
      |price_value BIGINT) USING `graft-versioned` TBLPROPERTIES (
      |'deletionVectors'='true', 'changeFeedKeys'='content_url')""".stripMargin)
    // v=0: the empty table the MERGEs start from
    spark.sql(s"INSERT INTO $table SELECT * FROM $table WHERE false")
    require(Versioned.latestVersion(root).contains(0L),
      s"the empty first commit did not publish v=0 under $root")
    (0 until WarmRounds).foreach(_ => doRound())  // every op, untimed
  }

  def cycle(i: Int): Unit = doRound()

  def enough: Boolean = round > MinRounds

  private def latest: Long = Versioned.latestVersion(root).get

  /** moves round r's files into the stream's input directory */
  private def stage(r: Int): Long = {
    val dir = Paths.get(base, "pending", f"r$r%03d")
    val files = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
    var lines = 0L
    files.foreach { f =>
      lines += Files.readAllLines(f).size
      Files.move(f, Paths.get(inbox, s"r$r-${f.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    lines
  }

  private def merge(batch: DataFrame, id: Long): Unit = {
    val rec = t.op("merge", s"merge@$round.$id") { _ =>
      t.seg("exec") {
        val s = batch.sparkSession
        batch.createOrReplaceTempView("pipebench_batch")
        t.span("MERGE INTO")(s.sql(
          s"""MERGE INTO $table t USING pipebench_batch s
             |ON t.content_url = s.content_url
             |WHEN MATCHED AND s.fetched_s > t.fetched_s THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      }
    }
    // a failed commit must stop the stream, or its state would advance
    // past rows that never reached the table
    if (!rec.ok) throw new IllegalStateException(s"merge failed: ${rec.error}")
  }

  private def drain(lines: Long): Unit =
    t.op("drain", s"drain@$round") { rec =>
      val writer = t.seg("build") {
        val raw = spark.readStream.schema(envelope)
          .option("maxFilesPerTrigger", FilesPerTrigger).json(inbox)
        // divarTransform carries only its url column through, so the
        // fetch envelope (url, fetch time) rides in it as a struct
        val listings = t.span("ListingTransforms.divarTransform")(
          ListingTransforms.divarTransform(
            raw.select(struct(col("content_url"), col("fetched_s")).as("env"), col("raw")),
            "raw", "env", to_timestamp(lit("2025-10-21 12:00:00"))))
          .select(col("content_url.content_url").as("content_url"),
            col("content_url.fetched_s").as("fetched_s"),
            col("title"), col("cat2_slug"), col("cat3_slug"), col("city_slug"),
            col("price_value"))
          .withColumn("ts", timestamp_seconds(col("fetched_s")))
        t.span("StreamPipelines.dedupStreamKeys")(
          StreamPipelines.dedupStreamKeys(listings, Seq("content_url", "fetched_s"),
            "ts", "1 hour"))
          .drop("ts")
          .writeStream
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: DataFrame, id: Long) => merge(df, id) }
      }
      t.seg("exec") {
        val q = writer.start()
        q.awaitTermination()
      }
      rec.rows = Seq(lines.toString)
    }

  private def sqlOp(op: String, stmt: String): Unit =
    t.op(op, s"$op@$round")(_ => t.seg("exec")(t.span(op)(spark.sql(stmt).collect())))

  private def readOp(op: String, key: String, keepRows: Boolean)(df: => DataFrame): Unit =
    t.op(op, key) { rec =>
      val d = t.seg("build")(t.span(s"$op:build")(df))
      t.seg("plan")(d.queryExecution.executedPlan)
      if (keepRows) rec.rows = t.seg("exec")(Digest.rowsOf(d.queryExecution))
      else rec.digest = t.seg("exec")(Digest.of(d.queryExecution))
      if (rec.traced) filesRead(rec, d)
    }

  /** files the scan plans to read ÷ data files of its snapshot */
  private def filesRead(rec: OpRecord, d: DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans)
    }
    val files = scans(d.queryExecution.executedPlan).flatMap(_.inputPartitions)
      .collect { case p: Product if p.productArity > 0 => p.productElement(0) }
      .collect { case s: String => s }.distinct.size
    val total = Versioned.dataFiles(Paths.get(root, s"v=$latest")).size
    if (total > 0) rec.extra("files_read_ratio") = files.toDouble / total
  }

  private def doRound(): Unit = {
    val r = round
    val roundC0 = Probe.workCpuS()
    val roundT0 = System.nanoTime()
    val lines = stage(r)
    drain(lines)
    // every round keeps the listings fetched in it and the round before,
    // so each round starts from the same shape of table
    val cutoff = t0S + (r - 1) * roundS
    sqlOp("delete", s"DELETE FROM $table WHERE fetched_s < $cutoff")
    if (r == MinRounds) dvFiles = DeletionVectors.dvMap(Paths.get(root, s"v=$latest")).size
    sqlOp("compact", "CALL graft.sys.compact(table => 'bench.listings')")
    val v = latest
    roundVersion += v
    reads(v, r)
    val wall = (System.nanoTime() - roundT0) / 1e9
    val cpu = Probe.workCpuS() - roundC0
    log += s"""{"round":$r,"timed":${r >= WarmRounds},"wall":$wall,"cpu":$cpu,"version":$v,"lines":$lines,"cutoff":$cutoff}"""
    if (r == MinRounds) storeFacts = facts(v)
    round += 1
  }

  /** the read mix at version v, after round r */
  private def reads(v: Long, r: Int): Unit = {
    readOp("scan", s"scan@$v", keepRows = false)(spark.table(table))
    val city = cities(r % cities.size)
    readOp("filtered_read", s"filtered_read@$v@$city", keepRows = true)(spark.sql(
      s"""SELECT cat3_slug, count(*) AS n, sum(price_value) AS s FROM $table
         |WHERE city_slug = '$city' GROUP BY cat3_slug""".stripMargin))
    val old = roundVersion(math.max(0, r - 2))
    readOp("time_travel", s"time_travel@$old", keepRows = false)(
      spark.sql(s"SELECT * FROM $table VERSION AS OF $old"))
    val from = if (r == 0) 0L else roundVersion(r - 1) + 1
    readOp("change_feed", s"change_feed@$from-$v", keepRows = true)(
      spark.read.format("graft-versioned").option("changeFeed", "true")
        .option("startingVersion", from).option("endingVersion", v).load(root))
  }

  private def facts(v: Long): String = {
    val rootP = Paths.get(root)
    // physical bytes: versions hard-link the files they carry over
    val bytes = Files.walk(rootP).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => Files.getAttribute(p, "unix:ino") -> Files.size(p)).toMap.values.sum
    val liveRows = spark.table(table).count()
    val versions = Versioned.versions(root).size
    s"""{"version":$v,"bytes":$bytes,"live_rows":$liveRows,"versions":$versions,"dv_files":$dvFiles}"""
  }

  override def verify(out: String): Unit =
    roundVersion.distinct.foreach { v =>
      Dumps(out, s"version@$v", spark.sql(s"SELECT * FROM $table VERSION AS OF $v"),
        s""","version":$v""")
    }

  override def extra: Seq[(String, String)] = Seq(
    "rounds" -> log.mkString("[", ",\n", "]"),
    "store" -> storeFacts)
}
