package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{PricePredictionFeed, Versioned}

/** Puts the versioned-load lifecycle (S13/S14/O3 — the reference's
  * MinIO last-data/old-data swap + backup retention,
  * price_prediction_data_pipeline.py:140-177,228-263 and
  * utils_of_backup.py:155-164) under the DuckDB oracle gate.
  *
  * q63 executes the REAL operators against a scratch version root:
  * prepare (schema exclusion + cat3 filter + −1370 sentinel patch) →
  * loadVersioned v0 → two more loads v1/v2 → a bad load v3 rolled
  * back → retention keep=2. The query's OUTPUT is what actually
  * survived on disk (partition-discovered `v` column over the
  * surviving version dirs); the oracle independently derives what
  * SHOULD have survived from the documents table — so a hash match
  * certifies write/rollback/retention semantics end-to-end, not just
  * the transform.
  */
object VersionedGate {
  type Q = (SparkSession, String) => DataFrame

  // Per-process scratch roots: a fixed path races when two Verify runs
  // share a box (both delete-then-write the same dir); a fresh temp dir
  // per JVM keeps concurrent runs isolated while staying idempotent
  // within a run.
  private lazy val scratchBase: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_versioned_gate_")

  private lazy val Root = scratchBase.resolve("q63").toString

  def q63VersionedLoad(s: SparkSession, dir: String): DataFrame = {
    // idempotent re-runs: clear the scratch root first
    Versioned.deleteRecursively(java.nio.file.Paths.get(Root))

    val listings = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(lit("https://x/"), col("doc_id")).as("content_url"), // excluded
      when(pmod(col("doc_id"), lit(4)) === 0, "apartment-sell")
        .otherwise(lit("villa-rent")).as("cat3_slug"),
      when(pmod(col("doc_id"), lit(5)) === 0, -1370)
        .otherwise(lit(1350) + pmod(col("doc_id"), lit(60)).cast(IntegerType))
        .cast(IntegerType).as("construction_year"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))

    val prepared = PricePredictionFeed.prepare(listings)
    PricePredictionFeed.loadVersioned(prepared, Root)               // v=0
    Versioned.writeNext(prepared.withColumn("price", col("price") + 1L), Root) // v=1
    Versioned.writeNext(prepared.withColumn("price", col("price") + 2L), Root) // v=2
    Versioned.writeNext(prepared.withColumn("price", col("price") + 99L), Root) // v=3: bad load
    Versioned.rollback(Root)            // drop v=3 — v=2 is current again
    Versioned.applyRetention(Root, keep = 2) // drop v=0 — v=1,v=2 survive

    s.read.option("basePath", Root).parquet(s"$Root/v=*")
      .select(col("v").cast(IntegerType).as("v"), col("doc_id"),
        col("cat3_slug"), col("construction_year"), col("price"))
      .orderBy("v", "doc_id")
  }

  private lazy val CsvRoot = scratchBase.resolve("q67").toString

  /** q67: the atomic CSV swap (S6/S15 — the reference's chunked
    * read_csv + tmp-file rename, price_prediction_data_pipeline.py /
    * utils_of_backup.py) as Spark's job-commit CSV write + schema'd
    * read-back. The `tricky` column carries embedded quotes and commas
    * so the quoting/escape path is actually exercised; the oracle
    * derives the expected rows straight from documents, so a hash match
    * proves the CSV roundtrip is lossless. */
  def q67CsvSwap(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(CsvRoot))
    val src = Tables.documents(s, dir).select(
      col("doc_id"), col("text"), col("lang"), col("n_chars"),
      concat(lit("\""), col("lang"), lit("\",:,"), col("source")).as("tricky"))
    // symmetric whitespace/empty handling: Spark's CSV defaults TRIM
    // edge whitespace and read empty back as null — either would make
    // the roundtrip lossy for legal string values
    src.write.option("header", true)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(CsvRoot)
    s.read.option("header", true)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .schema("doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT, tricky STRING")
      .csv(CsvRoot)
      .orderBy("doc_id")
  }

  private lazy val FeedRoot = scratchBase.resolve("q120").toString

  /** q120: CHANGE FEED between store versions — the lifecycle
    * completion of the versioned store: two loads land as v=0 / v=1
    * ([[Versioned.writeNext]]), then
    * [[graft.operators.Cdc.snapshotDiff]] reads both versions back and
    * emits the added/removed/changed rows a downstream consumer
    * (search index, cache, replica) applies INCREMENTALLY instead of
    * re-ingesting the full snapshot — the audited alternative to the
    * reference's blind full-rebuild swap. The oracle derives both
    * versions from the documents table, so a hash match certifies
    * write → version addressing → diff end-to-end. */
  def q120VersionChangeFeed(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(FeedRoot))
    val base = Tables.documents(s, dir).select(col("doc_id"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))
    val v0 = base.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val v1 = base.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("price", col("price") +
        when(pmod(col("doc_id"), lit(3)) === 0, 7L).otherwise(0L))
    Versioned.writeNext(v0, FeedRoot) // v=0
    Versioned.writeNext(v1, FeedRoot) // v=1
    graft.operators.Cdc.snapshotDiff(
        Versioned.read(s, FeedRoot, Some(0L)),
        Versioned.read(s, FeedRoot, Some(1L)),
        Seq("doc_id"), Seq("price"))
      .select(col("doc_id"), col("change_type"),
        col("old_price"), col("new_price"))
      .orderBy("doc_id")
  }

  private lazy val CompactRoot = scratchBase.resolve("q130").toString

  /** q130: OPTIMIZE-style small-file compaction
    * ([[Versioned.compact]]) — v=0 is deliberately written as 32 small
    * files (the shape a micro-batching writer leaves behind,
    * Layout.scala:55's small-files anti-pattern), then compacted into
    * size-targeted files as v=1. The gate's output is the COMPACTED
    * version's content; the oracle derives the pre-compaction content
    * from documents, so a hash match certifies compaction is purely a
    * layout rewrite. The file-count drop itself is require()d here and
    * asserted again in VersionedSpec; history stays intact (v=0
    * remains addressable — also require()d). */
  def q130CompactVersions(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(CompactRoot))
    val src = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("n_chars"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))
    Versioned.writeNext(src.repartition(32), CompactRoot) // v=0: 32 files
    val before =
      Versioned.dataFiles(java.nio.file.Paths.get(CompactRoot, "v=0")).size
    val cv = Versioned.compact(s, CompactRoot) // v=1: size-targeted
    val after =
      Versioned.dataFiles(java.nio.file.Paths.get(CompactRoot, s"v=$cv")).size
    require(after < before,
      s"compaction did not reduce file count ($before -> $after)")
    require(Versioned.read(s, CompactRoot, Some(0L)).count() ==
      Versioned.read(s, CompactRoot, Some(cv)).count(),
      "pre-compaction version no longer addressable or row count drifted")
    Versioned.read(s, CompactRoot, Some(cv)).orderBy("doc_id")
  }

  private lazy val TravelRoot = scratchBase.resolve("q131").toString

  /** q131: timestamp-based time travel ([[Versioned.readAsOf]]) —
    * three versions land with INJECTED commit stamps (1000/2000/3000,
    * written to each version's commit record; deterministic,
    * unlike dir mtimes), then the query reads AS OF 2500 and must
    * resolve the middle version. The oracle derives exactly the v=1
    * content from documents, so a hash match certifies stamp
    * resolution end-to-end; the boundary/error cases (asOf == stamp,
    * asOf before first commit, unstamped version) are spec'd in
    * VersionedSpec. */
  def q131TimeTravel(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(TravelRoot))
    val base = Tables.documents(s, dir).select(
      col("doc_id"), (col("n_chars") * 1000L).cast(LongType).as("price"))
    Versioned.writeNext(base, TravelRoot, Some(1000L))                          // v=0
    Versioned.writeNext(base.withColumn("price", col("price") + 10L),
      TravelRoot, Some(2000L))                                                  // v=1
    Versioned.writeNext(base.withColumn("price", col("price") + 20L),
      TravelRoot, Some(3000L))                                                  // v=2
    Versioned.readAsOf(s, TravelRoot, asOf = 2500L).orderBy("doc_id")
  }

  private lazy val Dsv2Root = scratchBase.resolve("q140").toString

  /** q140: the DataSource V2 snapshot surface —
    * `spark.read.format("graft-versioned").option("timestampAsOf", …)`
    * over a root with injected commit stamps, sharing q131's oracle: a
    * hash match certifies provider → version resolution → custom
    * parquet reader end-to-end against the SAME external expectation
    * the helper-API path meets. The gate also requires the
    * `versionAsOf` pin to agree with [[Versioned.read]] row-for-row
    * (collected as sorted strings — 500-row fixture, bounded).
    * Pruning/pushdown and the fail-loud matrix are in
    * VersionedDsv2Spec; PlanSpec pins the custom scan node. */
  def q140Dsv2TimeTravel(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(Dsv2Root))
    val base = Tables.documents(s, dir).select(
      col("doc_id"), (col("n_chars") * 1000L).cast(LongType).as("price"))
    Versioned.writeNext(base, Dsv2Root, Some(1000L))                       // v=0
    Versioned.writeNext(base.withColumn("price", col("price") + 10L),
      Dsv2Root, Some(2000L))                                               // v=1
    Versioned.writeNext(base.withColumn("price", col("price") + 20L),
      Dsv2Root, Some(3000L))                                               // v=2
    val pinned = s.read.format("graft-versioned")
      .option("versionAsOf", "0").load(Dsv2Root)
      .collect().map(_.toString).sorted.toSeq
    val direct = Versioned.read(s, Dsv2Root, Some(0L))
      .collect().map(_.toString).sorted.toSeq
    require(pinned == direct, "versionAsOf read diverged from Versioned.read")
    s.read.format("graft-versioned")
      .option("timestampAsOf", "2500").load(Dsv2Root)
      .orderBy("doc_id")
  }

  private lazy val FeedStreamRoot = scratchBase.resolve("q141").toString

  /** q141: the change feed as a STREAMING DataSource V2 source — q120's
    * exact v0/v1 data lands via [[Versioned.writeNextWithFeed]] (the
    * diff is STORED per commit, the Delta-CDF shape that makes the feed
    * streamable), then a real micro-batch query drains it from
    * startingVersion=1 and must hash-match q120's batch-diff oracle:
    * the stored feed, the DSv2 stream, and the micro-batch execution
    * are all on the hook for the same rows. */
  def q141Dsv2ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(FeedStreamRoot))
    val base = Tables.documents(s, dir).select(col("doc_id"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))
    val v0 = base.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val v1 = base.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("price", col("price") +
        when(pmod(col("doc_id"), lit(3)) === 0, 7L).otherwise(0L))
    Versioned.writeNextWithFeed(v0, FeedStreamRoot, Seq("doc_id"), Seq("price")) // v=0
    Versioned.writeNextWithFeed(v1, FeedStreamRoot, Seq("doc_id"), Seq("price")) // v=1
    val name = s"q141_feed_${System.nanoTime()}"
    s.readStream.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "1")
      .load(FeedStreamRoot)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.table(name)
      .select(col("doc_id"), col("change_type"),
        col("old_price"), col("new_price"))
      .orderBy("doc_id")
  }

  /** q169: VERSION TAGS (Iceberg's named snapshot refs) — the
    * reproducibility anchor a training pipeline needs: tag the corpus
    * snapshot a run trained on, keep mutating and compacting the
    * table, and the NAME keeps resolving the exact bytes even after a
    * retention sweep that deletes every other old version. The gate
    * builds three versions, tags v=1 'train-v1', retains keep=1 (v=0
    * dies, TAGGED v=1 require()d alive, v=2 current), then returns
    * `VERSION AS OF 'train-v1'` through catalog SQL; the oracle
    * re-derives v=1's content from the predicates alone. Fail-loud
    * matrix (retag, unknown tag, rollback-of-tagged) lives in
    * TagSpec. */
  def q169VersionTags(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs169")
    s.sql("CREATE TABLE graft.gate.docs169 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q169_docs_src")
    s.sql("INSERT INTO graft.gate.docs169 " +
      "SELECT doc_id, n_chars FROM q169_docs_src WHERE doc_id % 3 = 0") // v=0
    s.sql("INSERT INTO graft.gate.docs169 " +
      "SELECT doc_id, n_chars FROM q169_docs_src WHERE doc_id % 3 = 1") // v=1
    s.sql("CALL graft.sys.tag(table => 'gate.docs169', name => 'train-v1')")
    s.sql("INSERT INTO graft.gate.docs169 " +
      "SELECT doc_id, n_chars FROM q169_docs_src WHERE doc_id % 3 = 2") // v=2
    s.sql("CALL graft.sys.retain(table => 'gate.docs169', keep => 1)")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs169").toString
    require(Versioned.versions(root) == Seq(1L, 2L),
      s"q169: retention must keep the TAGGED v=1 and the newest v=2, " +
        s"got ${Versioned.versions(root)}")
    s.sql("""SELECT doc_id, n_chars FROM graft.gate.docs169
             VERSION AS OF 'train-v1' ORDER BY doc_id""")
  }

  /** q171: TRAINING-CORPUS RELEASE — the engine's reason to exist as
    * ONE gate: documents are quality-filtered (length bounds), exactly
    * deduplicated (md5 of text, smallest doc_id survives), split
    * train/val by portable hash, written to a versioned catalog table,
    * TAGGED as the release, then mutated further (the corpus moves on)
    * — and the query returns the release read BY NAME, which must
    * still be the exact filtered/deduped/split corpus the oracle
    * re-derives from first principles. Every layer is on the hook at
    * once: functions, dedup, sampling, the write path, tags, and
    * time-travel-by-name. */
  def q171CorpusRelease(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs171")
    s.sql("CREATE TABLE graft.gate.docs171 " +
      "(doc_id BIGINT, split STRING, n_chars BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='doc_id')")
    val docs = Tables.documents(s, dir)
      .where(col("n_chars").between(120, 2500)) // quality: length bounds
    // exact dedup: one survivor per text body, smallest doc_id wins
    val deduped = docs
      .withColumn("__k", md5(col("text")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__k").orderBy("doc_id")))
      .where(col("__rn") === 1)
    // deterministic split by portable hash of the doc id
    val released = deduped.select(col("doc_id"),
      when(pmod(col("doc_id") * 2654435761L, lit(1000003L)) < 800003L,
        "train").otherwise(lit("val")).as("split"),
      col("n_chars"))
    released.createOrReplaceTempView("q171_release")
    s.sql("INSERT INTO graft.gate.docs171 SELECT * FROM q171_release") // v=0
    s.sql("CALL graft.sys.tag(table => 'gate.docs171', name => 'train-v1')")
    // the corpus moves on: the release must not
    s.sql("DELETE FROM graft.gate.docs171 WHERE split = 'val'")        // v=1
    s.sql("INSERT INTO graft.gate.docs171 VALUES (999999, 'train', 1)") // v=2
    s.sql("""SELECT doc_id, split, n_chars FROM graft.gate.docs171
             VERSION AS OF 'train-v1' ORDER BY doc_id""")
  }

  /** q172: EXTERNAL-READER MANIFEST round trip — `sys.manifest`
    * exports a snapshot's absolute data-file paths and the gate reads
    * them back with Spark's PLAIN parquet reader (no connector, the
    * external engine's view); a DV-mode DELETE happens first and the
    * compact that makes the export legal materializes it, so the
    * exported bytes must already be the post-delete rows. The oracle
    * re-derives that state from predicates alone — if the manifest
    * listed a stale, extra, or DV-carrying file, the plain read would
    * drift and the hash would catch it. */
  def q172ManifestExport(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs172")
    s.sql("CREATE TABLE graft.gate.docs172 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q172_docs_src")
    s.sql("INSERT INTO graft.gate.docs172 " +
      "SELECT doc_id, n_chars FROM q172_docs_src WHERE doc_id % 5 = 3") // v=0
    s.sql("DELETE FROM graft.gate.docs172 WHERE n_chars < 350")         // v=1 DVs
    // DV'd snapshot must refuse export (a plain read would resurrect)
    val refused =
      try { s.sql("CALL graft.sys.manifest(table => 'gate.docs172')")
        .collect(); false }
      catch { case e: Exception => e.getMessage.contains("deletion-vector") }
    require(refused, "q172: a DV'd snapshot must refuse the export")
    s.sql("CALL graft.sys.compact(table => 'gate.docs172')")            // v=2
    val paths = s.sql("CALL graft.sys.manifest(table => 'gate.docs172')")
      .collect().map(_.getString(0)).toSeq
    require(paths.nonEmpty, "q172: empty manifest export")
    // the EXTERNAL view: plain parquet over the exported paths
    s.read.parquet(paths: _*)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** q170: INCREMENTAL MATERIALIZED VIEW maintained from the stored
    * change feed — the composition the table format exists for: a
    * standing aggregate (per-group count + sum) is built ONCE from the
    * v=0 snapshot, the table then takes an UPDATE, a DELETE, and an
    * INSERT, and the aggregate is brought current by folding the BATCH
    * CDF range read of those commits through [[Ivm.applyAggDelta]]
    * (changed → −old +new, removed → −old, added → +new) — never
    * rescanning the base table. The oracle recomputes the final
    * aggregate from the predicates alone: increment ≡ recompute, the
    * IVM contract, certified through the real catalog + feed + CDF
    * machinery end-to-end. */
  def q170IvmFromCdf(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs170")
    s.sql("CREATE TABLE graft.gate.docs170 " +
      "(doc_id BIGINT, grp BIGINT, chars BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='doc_id')")
    Tables.documents(s, dir).createOrReplaceTempView("q170_docs_src")
    s.sql("INSERT INTO graft.gate.docs170 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q170_docs_src " +
      "WHERE doc_id % 2 = 0")                                          // v=0
    // the standing aggregate, built once from the initial snapshot
    val base = s.sql(
      """SELECT grp, count(*) AS n, sum(chars) AS sum_chars
        |FROM graft.gate.docs170 VERSION AS OF 0 GROUP BY grp""".stripMargin)
    s.sql("UPDATE graft.gate.docs170 SET chars = chars + 10 " +
      "WHERE doc_id % 10 = 0")                                         // v=1
    s.sql("DELETE FROM graft.gate.docs170 WHERE chars < 400")          // v=2
    s.sql("INSERT INTO graft.gate.docs170 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q170_docs_src " +
      "WHERE doc_id % 2 = 1 AND doc_id % 3 = 0")                       // v=3
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs170").toString
    val feed = s.read.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "1")
      .load(root)
    val neg = feed.where(col("change_type").isin("changed", "removed"))
      .select(col("old_grp").as("grp"), lit(-1L).as("sign"),
        col("old_chars").as("v"))
    val pos = feed.where(col("change_type").isin("changed", "added"))
      .select(col("new_grp").as("grp"), lit(1L).as("sign"),
        col("new_chars").as("v"))
    graft.operators.Ivm.applyAggDelta(base, neg.unionByName(pos),
        Seq("grp"), "n", "sum_chars", "sign", "v")
      .orderBy("grp")
  }

  /** q178: CONTINUOUS IVM — q170's fold as a STANDING STREAM
    * ([[graft.operators.Ivm.continuousAggMaintenance]]): the stored
    * change feed drains as micro-batches into a materialized aggregate
    * table, restart-safe from the checkpoint with txn-idempotent state
    * commits. The gate seeds the state from the v=0 snapshot, drains
    * the UPDATE+DELETE commits in one AvailableNow run, then lands the
    * INSERT commit and RESUMES from the same checkpoint — require()ing
    * the second run read only the new commit's feed rows (no re-drain,
    * no re-snapshot). Batch slicing must be invisible: the final state
    * shares q170's oracle verbatim. Closes the reference's watermark
    * poll loop (sql_search_incremental_dag.py:118-140) as a stream. */
  def q178StreamingIvm(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs178")
    s.sql("CREATE TABLE graft.gate.docs178 " +
      "(doc_id BIGINT, grp BIGINT, chars BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='doc_id')")
    Tables.documents(s, dir).createOrReplaceTempView("q178_docs_src")
    s.sql("INSERT INTO graft.gate.docs178 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q178_docs_src " +
      "WHERE doc_id % 2 = 0")                                          // v=0
    val scratch = scratchBase.resolve("q178")
    Versioned.deleteRecursively(scratch)
    val stateRoot = scratch.resolve("state").toString
    val ckpt = scratch.resolve("ckpt").toString
    // the standing aggregate, materialized ONCE from the v=0 snapshot
    s.sql("""SELECT grp, count(*) AS n, sum(chars) AS sum_chars
            |FROM graft.gate.docs178 VERSION AS OF 0
            |GROUP BY grp""".stripMargin)
      .write.format("graft-versioned").option("create", "true")
      .mode("append").save(stateRoot)
    s.sql("UPDATE graft.gate.docs178 SET chars = chars + 10 " +
      "WHERE doc_id % 10 = 0")                                         // v=1
    s.sql("DELETE FROM graft.gate.docs178 WHERE chars < 400")          // v=2
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs178").toString
    // ONE scan of the feed emits both retraction and insertion rows
    // (explode over a 2-slot signed array) — the union-of-two-filters
    // shape reads the feed twice per batch, which doubles feed I/O at
    // scale and double-counts numInputRows
    def toDelta(feed: DataFrame): DataFrame =
      feed.select(explode(array(
          when(col("change_type").isin("changed", "removed"),
            struct(col("old_grp").as("grp"), lit(-1L).as("sign"),
              col("old_chars").as("v"))),
          when(col("change_type").isin("changed", "added"),
            struct(col("new_grp").as("grp"), lit(1L).as("sign"),
              col("new_chars").as("v"))))).as("e"))
        .filter(col("e").isNotNull)
        .select(col("e.grp"), col("e.sign"), col("e.v"))
    def drain(): Seq[(Long, Long)] = {
      val q = graft.operators.Ivm.continuousAggMaintenance(s, root,
        stateRoot, ckpt, Seq("grp"), "n", "sum_chars", toDelta _,
        appId = "q178_ivm")
      q.awaitTermination()
      q.recentProgress.map(p => (p.batchId, p.numInputRows)).toSeq
    }
    require(drain().map(_._2).sum > 0L,
      "q178: first drain must fold the UPDATE+DELETE feed")
    s.sql("INSERT INTO graft.gate.docs178 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q178_docs_src " +
      "WHERE doc_id % 2 = 1 AND doc_id % 3 = 0")                       // v=3
    // the v=3 commit's own feed size — what a checkpoint-true resume
    // is allowed to read
    val v3Rows = s.read.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "3")
      .load(root).count()
    val resumed = drain()
    require(resumed.map(_._2).sum == v3Rows,
      s"q178: resume must drain EXACTLY the new commit's feed " +
        s"($v3Rows rows), got batches $resumed — the checkpoint " +
        "re-read history")
    s.read.format("graft-versioned").load(stateRoot)
      .select(col("grp"), col("n"), col("sum_chars"))
      .orderBy("grp")
  }

  /** q183: CONTINUOUS IVM, O(changed groups) — q178's standing stream
    * re-plumbed as a MERGE INTO a merge-on-read state TABLE
    * ([[graft.operators.Ivm.continuousAggMaintenanceMerge]]): per
    * micro-batch only the changed groups' rows move (deletion-vector
    * positions plus one small insert file) and every state data file
    * HARD-LINKS through — where the q178 fold reads AND rewrites the
    * whole materialized view per trigger (full-table rewrite
    * amplification at a 10⁸-group MV). The gate runs q178's exact
    * drain + checkpoint-resume discipline, then lands a ONE-GROUP
    * final batch and require()s the O(changed groups) shape commit by
    * commit: every prior data file carries with the SAME INODE (a
    * hard link, not a rewrite) and each state commit inserts at most
    * the changed-group count of rows. Shares q170/q178's oracle
    * verbatim — exactly-once through replay, slicing and resume. */
  def q183MergeIvm(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs183")
    s.sql("DROP TABLE IF EXISTS graft.gate.state183")
    s.sql("CREATE TABLE graft.gate.docs183 " +
      "(doc_id BIGINT, grp BIGINT, chars BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='doc_id')")
    Tables.documents(s, dir).createOrReplaceTempView("q183_docs_src")
    s.sql("INSERT INTO graft.gate.docs183 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q183_docs_src " +
      "WHERE doc_id % 2 = 0")                                          // v=0
    // the state table: merge-on-read + clustered on the group key, so
    // the MERGE probe prunes to the changed groups' files and commits
    // touch only their sidecars
    s.sql("CREATE TABLE graft.gate.state183 " +
      "(grp BIGINT, n BIGINT, sum_chars BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('deletionVectors'='true', 'clusterBy'='grp', " +
      "'writePartitions'='4')")
    s.sql("INSERT INTO graft.gate.state183 " +
      "SELECT grp, count(*) AS n, sum(chars) AS sum_chars " +
      "FROM graft.gate.docs183 VERSION AS OF 0 GROUP BY grp")
    s.sql("UPDATE graft.gate.docs183 SET chars = chars + 10 " +
      "WHERE doc_id % 10 = 0")                                         // v=1
    s.sql("DELETE FROM graft.gate.docs183 WHERE chars < 400")          // v=2
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs183").toString
    val stateRoot = scratchBase.resolve("catalog").resolve("gate")
      .resolve("state183")
    val scratch = scratchBase.resolve("q183")
    Versioned.deleteRecursively(scratch)
    val ckpt = scratch.resolve("ckpt").toString
    def toDelta(feed: DataFrame): DataFrame =
      feed.select(explode(array(
          when(col("change_type").isin("changed", "removed"),
            struct(col("old_grp").as("grp"), lit(-1L).as("sign"),
              col("old_chars").as("v"))),
          when(col("change_type").isin("changed", "added"),
            struct(col("new_grp").as("grp"), lit(1L).as("sign"),
              col("new_chars").as("v"))))).as("e"))
        .filter(col("e").isNotNull)
        .select(col("e.grp"), col("e.sign"), col("e.v"))
    def drain(): Seq[(Long, Long)] = {
      val q = graft.operators.Ivm.continuousAggMaintenanceMerge(s, root,
        "graft.gate.state183", ckpt, Seq("grp"), "n", "sum_chars",
        toDelta _, appId = "q183_ivm")
      q.awaitTermination()
      q.recentProgress.map(p => (p.batchId, p.numInputRows)).toSeq
    }
    require(drain().map(_._2).sum > 0L,
      "q183: first drain must fold the UPDATE+DELETE feed")
    s.sql("INSERT INTO graft.gate.docs183 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q183_docs_src " +
      "WHERE doc_id % 2 = 1 AND doc_id % 3 = 0")                       // v=3
    val v3Rows = s.read.format("graft-versioned")
      .option("changeFeed", "true").option("startingVersion", "3")
      .load(root).count()
    val resumed = drain()
    require(resumed.map(_._2).sum == v3Rows,
      s"q183: resume must drain EXACTLY the new commit's feed " +
        s"($v3Rows rows), got batches $resumed — the checkpoint " +
        "re-read history")
    // ---- the O(changed groups) proof: a ONE-GROUP batch ----
    // update one row (+1), then revert it (−1): the net fold leaves
    // the oracle-checked state VALUES untouched, but the commits must
    // still run the merge path — and touch only that group
    val oneId = s.sql("SELECT max(doc_id) FROM graft.gate.docs183")
      .collect()(0).getLong(0)
    val vBefore = Versioned.latestVersion(stateRoot.toString).getOrElse(
      throw new IllegalStateException("q183: state has no versions"))
    s.sql(s"UPDATE graft.gate.docs183 SET chars = chars + 1 " +
      s"WHERE doc_id = $oneId")                                        // v=4
    s.sql(s"UPDATE graft.gate.docs183 SET chars = chars - 1 " +
      s"WHERE doc_id = $oneId")                                        // v=5
    drain()
    val vAfter = Versioned.latestVersion(stateRoot.toString).get
    require(vAfter > vBefore,
      "q183: the one-group batch must commit state")
    def ino(p: java.nio.file.Path): Long = java.nio.file.Files
      .getAttribute(p, "unix:ino").asInstanceOf[Long]
    def filesOf(v: Long): Map[String, Long] =
      Versioned.dataFiles(stateRoot.resolve(s"v=$v"))
        .map(f => f.getFileName.toString -> ino(f)).toMap
    ((vBefore + 1) to vAfter).foreach { v =>
      val prev = filesOf(v - 1)
      val cur = filesOf(v)
      require(prev.keySet.subsetOf(cur.keySet),
        s"q183: state v=$v dropped carried files — the fold rewrote " +
          s"state (${(prev.keySet -- cur.keySet).mkString(", ")})")
      prev.foreach { case (nm, i) =>
        require(cur(nm) == i,
          s"q183: state file $nm of v=$v was REWRITTEN (new inode) — " +
            "untouched state must hard-link through, O(changed groups)")
      }
      val stats = graft.operators.FileStats.read(stateRoot.resolve(s"v=$v"))
      val newRows = (cur.keySet -- prev.keySet).toSeq
        .flatMap(stats.get(_).map(_.rows)).sum
      require(newRows <= 1L,
        s"q183: a one-group batch inserted $newRows state rows at " +
          s"v=$v — the fold is not O(changed groups)")
    }
    s.table("graft.gate.state183")
      .select(col("grp"), col("n"), col("sum_chars"))
      .orderBy("grp")
  }

  /** q184: `PARTITIONED BY` DDL — the single most common clause in
    * real lakehouse DDL, accepted for IDENTITY transforms and mapped
    * onto the clusterBy + file-stats-skipping layout (Delta's
    * liquid-clustering answer; the reference's own layout is
    * partition-shaped — per-site Mongo collections,
    * mongodb_utils.py:14-21, and dated MinIO prefixes,
    * utils_of_backup.py:38-73). The gate require()s the WHOLE
    * contract: SHOW TBLPROPERTIES documents the mapping
    * (partitionedBy + derived clusterBy), every INSERT range-clusters
    * on the partition column, and a partition-predicate scan PRUNES —
    * the live plan's `DataFiles: kept/total` marker must drop most
    * files, exactly what directory pruning would have bought. Rows
    * are layout-independent: the oracle re-derives them relationally. */
  def q184PartitionedDdl(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs184")
    s.sql("CREATE TABLE graft.gate.docs184 " +
      "(doc_id BIGINT, grp BIGINT, n_chars BIGINT) USING `graft-versioned` " +
      "PARTITIONED BY (grp) TBLPROPERTIES ('writePartitions'='8')")
    val props = s.sql("SHOW TBLPROPERTIES graft.gate.docs184").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("partitionedBy").contains("grp") &&
        props.get("clusterBy").contains("grp"),
      s"q184: SHOW TBLPROPERTIES must document the PARTITIONED BY → " +
        s"clusterBy mapping, got $props")
    Tables.documents(s, dir).createOrReplaceTempView("q184_docs_src")
    s.sql("INSERT INTO graft.gate.docs184 " +
      "SELECT doc_id, doc_id % 7, n_chars FROM q184_docs_src")
    // partition pruning through the stats layer: the live scan's
    // explain marker must keep only the files whose slice covers the
    // predicate value — with 7 partition values clustered across 8
    // files, `grp = 3` reads at most a quarter of the snapshot
    val probe = s.sql(
      "SELECT doc_id, n_chars FROM graft.gate.docs184 WHERE grp = 3")
    probe.collect()
    val desc = probe.queryExecution.executedPlan.toString
    val m = "DataFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    require(m.isDefined, s"q184: no DataFiles marker in scan:\n$desc")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    require(total >= 4,
      s"q184: need a multi-file layout to measure pruning ($total files)")
    require(kept <= math.max(2, total / 4),
      s"q184: partition predicate read $kept/$total files — the " +
        "PARTITIONED BY layout did not prune:\n" + desc)
    s.sql("""SELECT grp, doc_id, n_chars FROM graft.gate.docs184
             WHERE grp = 3 ORDER BY doc_id""")
  }

  /** q186: `OPTIMIZE … WHERE` (predicate-scoped compaction) — on a
    * `PARTITIONED BY` table, three append commits fragment every
    * partition slice into per-commit files; `sys.compact(where =>
    * 'grp = 2')` must pack EXACTLY that slice: the gate require()s
    * every carried file keeps its INODE (hard link, never a rewrite)
    * and that no carried file's statistics admit grp = 2 (the slice
    * really was selected by stats, not luck), while the file count
    * drops. Rows are maintenance-invariant: the oracle re-derives the
    * full table relationally. */
  def q186OptimizeWhere(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs186")
    s.sql("CREATE TABLE graft.gate.docs186 " +
      "(doc_id BIGINT, grp BIGINT, n_chars BIGINT) USING `graft-versioned` " +
      "PARTITIONED BY (grp) TBLPROPERTIES ('writePartitions'='4')")
    Tables.documents(s, dir).createOrReplaceTempView("q186_docs_src")
    (0 to 2).foreach { r =>
      s.sql("INSERT INTO graft.gate.docs186 " +
        s"SELECT doc_id, doc_id % 4, n_chars FROM q186_docs_src " +
        s"WHERE doc_id % 3 = $r")                               // v=0,1,2
    }
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs186")
    def ino(p: java.nio.file.Path): Long = java.nio.file.Files
      .getAttribute(p, "unix:ino").asInstanceOf[Long]
    def filesOf(v: Long): Map[String, Long] =
      Versioned.dataFiles(root.resolve(s"v=$v"))
        .map(f => f.getFileName.toString -> ino(f)).toMap
    val before = filesOf(2L)
    require(before.size >= 8,
      s"q186: need a fragmented multi-slice layout (${before.size} files)")
    s.sql("CALL graft.sys.compact(table => 'gate.docs186', " +
      "where => 'grp = 2')")                                    // v=3
    val after = filesOf(3L)
    require(after.size < before.size,
      s"q186: the grp = 2 slice must pack (${before.size} -> ${after.size})")
    val carried = after.keySet.intersect(before.keySet)
    carried.foreach { nm =>
      require(after(nm) == before(nm),
        s"q186: carried file $nm must HARD-LINK (inode), not rewrite")
    }
    // the slice was selected by STATISTICS: no carried file may admit
    // grp = 2 — everything that could hold the slice was rewritten
    val stats = graft.operators.FileStats.read(root.resolve("v=3"))
    import org.apache.spark.sql.sources.EqualTo
    carried.foreach { nm =>
      require(stats.get(nm).exists(st =>
          !graft.operators.FileStats.mayMatch(st, EqualTo("grp", 2L))),
        s"q186: carried file $nm still admits grp = 2 — the where " +
          "selection missed it")
    }
    s.sql("""SELECT grp, doc_id, n_chars FROM graft.gate.docs186
             ORDER BY doc_id""")
  }

  /** q187: NDV SKETCH SIDECAR → JOIN STRATEGY — the distinct-count
    * statistics actually steering the planner: two byte-identical
    * dimensions (one `ndvColumns`, one plain), both bigger than the
    * broadcast threshold raw, filtered on a SCATTERED column no
    * file/row-group stats can prune. Only the sketch-backed dim's scan
    * can apply the pushed equality's 1/ndv selectivity to its own
    * estimate, so IT broadcasts and the plain one shuffles —
    * require()d on the live plans; the threshold conf is restored in
    * a finally. Rows are strategy-invariant: the oracle re-derives
    * the join relationally. */
  def q187NdvBroadcast(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    Seq("dim187", "plain187", "fact187").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.gate.$t"))
    s.sql("CREATE TABLE graft.gate.dim187 (k BIGINT, h BIGINT, pad STRING) " +
      "USING `graft-versioned` TBLPROPERTIES ('ndvColumns'='h')")
    Tables.documents(s, dir).createOrReplaceTempView("q187_docs_src")
    s.sql("INSERT INTO graft.gate.dim187 " +
      "SELECT doc_id, doc_id % 50, repeat('d', 64) FROM q187_docs_src")
    s.sql("CREATE TABLE graft.gate.plain187 (k BIGINT, h BIGINT, pad STRING) " +
      "USING `graft-versioned`")
    s.sql("INSERT INTO graft.gate.plain187 " +
      "SELECT doc_id, doc_id % 50, repeat('d', 64) FROM q187_docs_src")
    s.sql("CREATE TABLE graft.gate.fact187 (k BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    s.sql("INSERT INTO graft.gate.fact187 " +
      "SELECT doc_id, n_chars FROM q187_docs_src")
    def joined(dim: String) = s.sql(
      s"SELECT f.k AS doc_id, f.n_chars FROM graft.gate.fact187 f " +
        s"JOIN graft.gate.$dim d ON f.k = d.k WHERE d.h = 7")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = s.conf.get(key)
    try {
      s.conf.set(key, "2048")
      val ndvPlan = joined("dim187").queryExecution.executedPlan.toString
      require(ndvPlan.contains("BroadcastHashJoin"),
        s"q187: the sketch-backed dim must broadcast (1/ndv " +
          s"selectivity):\n$ndvPlan")
      val plainPlan = joined("plain187").queryExecution.executedPlan.toString
      require(!plainPlan.contains("BroadcastHashJoin"),
        s"q187: without sketches the oversized dim must not " +
          s"broadcast:\n$plainPlan")
      // strategy never changes rows: materialize BOTH under the gate's
      // conf, require equality, return the broadcast side's rows
      val a = joined("dim187").orderBy("doc_id").collect().toSeq
      val b = joined("plain187").orderBy("doc_id").collect().toSeq
      require(a == b, "q187: join strategy changed the rows")
    } finally s.conf.set(key, old)
    joined("dim187").orderBy("doc_id")
  }

  /** q188: STORAGE-PARTITIONED JOIN — two co-partitioned
    * `PARTITIONED BY (grp)` tables joined on (grp, doc_id) with the
    * v2-bucketing confs on: the gate require()s the plan ran with
    * ZERO shuffle exchanges (both scans reported their per-split
    * partition keys, proved exact from file stats, and Spark aligned
    * the sides — the Iceberg SPJ shape), then returns the rows for
    * the oracle's relational re-derivation. Strategy never changes
    * rows; the confs restore in a finally. */
  def q188StoragePartitionedJoin(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.a188")
    s.sql("DROP TABLE IF EXISTS graft.gate.b188")
    Tables.documents(s, dir).createOrReplaceTempView("q188_docs_src")
    Seq("a188" -> "", "b188" -> " AND doc_id % 2 = 0").foreach {
      case (t, extra) =>
        s.sql(s"CREATE TABLE graft.gate.$t " +
          "(doc_id BIGINT, grp BIGINT, n_chars BIGINT) " +
          "USING `graft-versioned` PARTITIONED BY (grp)")
        // one insert per partition value: every committed file pins
        // exactly one grp — the SPJ exactness invariant
        (0L to 3L).foreach { g =>
          s.sql(s"INSERT INTO graft.gate.$t SELECT doc_id, ${g}L, " +
            s"n_chars FROM q188_docs_src WHERE doc_id % 4 = $g$extra")
        }
    }
    val q = "SELECT a.doc_id, a.n_chars, b.n_chars AS n2 " +
      "FROM graft.gate.a188 a JOIN graft.gate.b188 b " +
      "ON a.grp = b.grp AND a.doc_id = b.doc_id"
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) =>
      k -> scala.util.Try(s.conf.get(k)).toOption }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val j = s.sql(q)
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"q188: the co-partitioned join must skip both exchanges:\n$plan")
      // the exchange-free rows ARE the returned rows: materialize them
      // under the SPJ plan and hand a deterministic frame to Verify
      val rows = j.orderBy("doc_id").collect().toSeq
      val schema = j.schema
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .orderBy("doc_id")
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q189: GDPR/TAKEDOWN PURGE — `sys.purge` physically removes the
    * predicate's rows from EVERY surviving version: after a
    * multi-version CoW history, the gate records per-version
    * (count, sum) facts over the NON-purged rows plus every file's
    * inode, purges a partition-scoped key set, then require()s (a) no
    * purged row is readable at ANY version, (b) the non-purged facts
    * are bit-identical at every version (the rewrite touched nothing
    * else), (c) every file whose statistics refute the purge slice
    * kept its INODE (selection was stats-gated, not a full-history
    * rewrite). The oracle re-derives the final content relationally
    * with the purge applied on top of the predicate chain. */
  def q189PurgeRows(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs189")
    s.sql("CREATE TABLE graft.gate.docs189 " +
      "(doc_id BIGINT, grp BIGINT, n_chars BIGINT) USING `graft-versioned` " +
      "PARTITIONED BY (grp) TBLPROPERTIES ('writePartitions'='4')")
    Tables.documents(s, dir).createOrReplaceTempView("q189_docs_src")
    s.sql("INSERT INTO graft.gate.docs189 " +
      "SELECT doc_id, doc_id % 4, n_chars FROM q189_docs_src")          // v=0
    s.sql("UPDATE graft.gate.docs189 SET n_chars = n_chars + 5 " +
      "WHERE doc_id % 6 = 0")                                           // v=1
    s.sql("DELETE FROM graft.gate.docs189 WHERE n_chars < 100")         // v=2
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs189")
    val versions = Versioned.versions(root.toString)
    val keepPred = "NOT (grp = 2 AND doc_id % 5 = 3)"
    def factsAt(v: Long): (Long, Long) = {
      val r = s.sql(s"SELECT count(*), coalesce(sum(n_chars), 0) " +
        s"FROM graft.gate.docs189 VERSION AS OF $v WHERE $keepPred")
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val preFacts = versions.map(v => v -> factsAt(v)).toMap
    def ino(p: java.nio.file.Path): Long = java.nio.file.Files
      .getAttribute(p, "unix:ino").asInstanceOf[Long]
    import org.apache.spark.sql.sources.EqualTo
    // files whose stats REFUTE grp = 2 must survive untouched
    val protectedInodes: Seq[(java.nio.file.Path, Long)] =
      versions.flatMap { v =>
        val vdir = root.resolve(s"v=$v")
        val stats = graft.operators.FileStats.read(vdir)
        Versioned.dataFiles(vdir).filter { f =>
          stats.get(f.getFileName.toString)
            .exists(st => !graft.operators.FileStats
              .mayMatch(st, EqualTo("grp", 2L)))
        }.map(f => f -> ino(f))
      }
    require(protectedInodes.nonEmpty,
      "q189: the layout must give the purge something to skip")
    val out = s.sql("CALL graft.sys.purge(table => 'gate.docs189', " +
      "where => 'grp = 2 AND doc_id % 5 = 3')").collect()(0)
    require(out.getLong(1) > 0L, "q189: the purge must remove rows")
    versions.foreach { v =>
      require(s.sql(s"SELECT count(*) FROM graft.gate.docs189 " +
          s"VERSION AS OF $v WHERE grp = 2 AND doc_id % 5 = 3")
          .collect()(0).getLong(0) == 0L,
        s"q189: purged rows still readable at v=$v")
      require(factsAt(v) == preFacts(v),
        s"q189: non-purged rows changed at v=$v — the rewrite leaked")
    }
    protectedInodes.foreach { case (f, i) =>
      require(ino(f) == i,
        s"q189: $f was rewritten though its stats refute the purge slice")
    }
    s.sql("""SELECT grp, doc_id, n_chars FROM graft.gate.docs189
             ORDER BY doc_id""")
  }

  /** q190: BUCKET-TRANSFORM STORAGE-PARTITIONED JOIN — `PARTITIONED BY
    * (bucket(8, doc_id))` on both sides (Iceberg's hash transform via
    * the generated-column mapping: `doc_id_bucket = pmod(hash(doc_id),
    * 8)` materializes writer-side, ONE insert clusters by the
    * catalog's V2 bucket function and rolls files at bucket
    * boundaries), then a join on the RAW HIGH-CARDINALITY KEY — no
    * partition column in the ON clause — runs with ZERO shuffle
    * exchanges: the scans report `bucket(8, doc_id)`
    * KeyGroupedPartitioning and Spark aligns the sides. This is the
    * 100 TB fact⋈fact shape identity partitioning cannot express (a
    * high-cardinality key has no per-value layout). Strategy never
    * changes rows; confs restore in a finally. */
  def q190BucketSpj(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    Tables.documents(s, dir).createOrReplaceTempView("q190_docs_src")
    Seq("a190" -> "", "b190" -> " WHERE doc_id % 2 = 0").foreach {
      case (t, extra) =>
        s.sql(s"DROP TABLE IF EXISTS graft.gate.$t")
        s.sql(s"CREATE TABLE graft.gate.$t " +
          "(doc_id BIGINT, n_chars BIGINT) " +
          "USING `graft-versioned` PARTITIONED BY (bucket(8, doc_id))")
        // ONE insert spanning every bucket: the boundary roll (not
        // per-value inserts) maintains the one-bucket-per-file proof
        s.sql(s"INSERT INTO graft.gate.$t (doc_id, n_chars) " +
          s"SELECT doc_id, n_chars FROM q190_docs_src$extra")
    }
    val q = "SELECT a.doc_id, a.n_chars, b.n_chars AS n2 " +
      "FROM graft.gate.a190 a JOIN graft.gate.b190 b " +
      "ON a.doc_id = b.doc_id"
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) =>
      k -> scala.util.Try(s.conf.get(k)).toOption }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val j = s.sql(q)
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"q190: the co-bucketed join must skip both exchanges:\n$plan")
      val rows = j.orderBy("doc_id").collect().toSeq
      val schema = j.schema
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .orderBy("doc_id")
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q195: TRUNCATE PARTITION TRANSFORM — `PARTITIONED BY
    * (truncate(100, doc_id))`, Iceberg's remaining standard transform
    * (numeric bins; string prefixes covered in `TruncateSpec`), by the
    * temporal recipe: a generated floor-to-multiple column
    * (`doc_id - pmod(doc_id, 100)` — monotone in the key), ONE insert
    * range-clusters on the RAW key with boundary rolls so every file
    * pins exactly one bin, a bin-range predicate on the raw key
    * file-prunes (live `DataFiles: kept/total` pin), and two
    * co-truncated tables joining on the raw key skip both shuffle
    * exchanges (the scan reports `truncate(100, doc_id)`
    * KeyGroupedPartitioning, resolved through the catalog's V2
    * truncate function). Rows re-derived relationally by the oracle. */
  def q195TruncateDdl(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    Tables.documents(s, dir).createOrReplaceTempView("q195_docs_src")
    Seq("a195" -> "", "b195" -> " WHERE doc_id % 2 = 0").foreach {
      case (t, extra) =>
        s.sql(s"DROP TABLE IF EXISTS graft.gate.$t")
        s.sql(s"CREATE TABLE graft.gate.$t " +
          "(doc_id BIGINT, n_chars BIGINT) " +
          "USING `graft-versioned` PARTITIONED BY (truncate(100, doc_id))")
        s.sql(s"INSERT INTO graft.gate.$t (doc_id, n_chars) " +
          s"SELECT doc_id, n_chars FROM q195_docs_src$extra")
    }
    val props = s.sql("SHOW TBLPROPERTIES graft.gate.a195").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("partitionedBy").contains("truncate(100,doc_id)") &&
        props.get("clusterBy").contains("doc_id_trunc"),
      s"q195: SHOW TBLPROPERTIES must document the truncate mapping, got $props")
    // bin-range prune through the raw key's file stats
    val lo = s.sql("SELECT min(doc_id) FROM q195_docs_src").collect()(0).getLong(0)
    val binLo = lo - (((lo % 100) + 100) % 100) + 100
    val probe = s.sql("SELECT doc_id, n_chars FROM graft.gate.a195 " +
      s"WHERE doc_id >= $binLo AND doc_id < ${binLo + 100}")
    probe.collect()
    val desc = probe.queryExecution.executedPlan.toString
    val m = "DataFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    require(m.isDefined, s"q195: no DataFiles marker in scan:\n$desc")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    require(total >= 3 && kept <= math.max(2, total / 2),
      s"q195: one-bin predicate read $kept/$total files — no prune:\n$desc")
    // SPJ on the raw key between co-truncated tables
    val q = "SELECT a.doc_id, a.n_chars, b.n_chars AS n2 " +
      "FROM graft.gate.a195 a JOIN graft.gate.b195 b " +
      "ON a.doc_id = b.doc_id"
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) =>
      k -> scala.util.Try(s.conf.get(k)).toOption }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val j = s.sql(q)
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"q195: the co-truncated join must skip both exchanges:\n$plan")
      val rows = j.orderBy("doc_id").collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), j.schema)
        .orderBy("doc_id")
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q191: TEMPORAL PARTITION TRANSFORM — `PARTITIONED BY
    * (days(ts_utc))` maps to a generated DATE truncation column plus
    * the clustered layout: ONE insert range-clusters on the raw
    * timestamp (truncation is monotone in it), the writer rolls files
    * at day boundaries, and a two-day time-range predicate prunes the
    * 30-day snapshot through the timestamp's own file stats — the gate
    * require()s the property mapping AND a live-plan `DataFiles:
    * kept/total` prune proof, then returns the range's rows for the
    * oracle's relational re-derivation (epoch-ns space, the temporal
    * gates' convention). */
  def q191TemporalDdl(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.ev191")
    s.sql("CREATE TABLE graft.gate.ev191 " +
      "(event_id BIGINT, ts_utc TIMESTAMP, value DOUBLE) " +
      "USING `graft-versioned` PARTITIONED BY (days(ts_utc)) " +
      "TBLPROPERTIES ('writePartitions'='4')")
    val props = s.sql("SHOW TBLPROPERTIES graft.gate.ev191").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("partitionedBy").contains("days(ts_utc)") &&
        props.get("clusterBy").contains("ts_utc_days"),
      s"q191: SHOW TBLPROPERTIES must document the transform mapping, " +
        s"got $props")
    Tables.events(s, dir).createOrReplaceTempView("q191_ev_src")
    s.sql("INSERT INTO graft.gate.ev191 (event_id, ts_utc, value) " +
      "SELECT event_id, ts_utc, value FROM q191_ev_src")
    val probe = s.sql("SELECT event_id, unix_micros(ts_utc) * 1000 AS " +
      "ts_ns, value FROM graft.gate.ev191 " +
      "WHERE ts_utc >= timestamp'2024-01-05 00:00:00' " +
      "AND ts_utc < timestamp'2024-01-07 00:00:00'")
    probe.collect()
    val desc = probe.queryExecution.executedPlan.toString
    val m = "DataFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    require(m.isDefined, s"q191: no DataFiles marker in scan:\n$desc")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    require(total >= 10,
      s"q191: a 30-day layout must yield day-grained files, got $total")
    require(kept <= math.max(3, total / 5),
      s"q191: the two-day range read $kept/$total files — temporal " +
        "partitioning did not prune:\n" + desc)
    probe.orderBy("event_id")
  }

  /** q198: `CALL sys.fsck` — the metadata integrity check every
    * lakehouse operation suite needs: manifest-listed files exist,
    * sidecars (stats / row-id) cover every data file, DV references
    * resolve, no unlisted leftovers, no stale staging, the latest
    * hint points at a real version. Metadata-only and driver-side —
    * O(files) name probes, never a data byte. The gate builds a
    * 3-commit lifecycle (insert, insert, MoR delete) and
    * hash-compares the FULL report against the constant all-clean
    * expectation; the detection side (planted missing file, staging
    * leftovers) is certified by `GraftCatalogSpec`. */
  def q198Fsck(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.fsck198")
    s.sql("CREATE TABLE graft.gate.fsck198 (doc_id BIGINT, n BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q198_docs_src")
    s.sql("INSERT INTO graft.gate.fsck198 " +
      "SELECT doc_id, n_chars FROM q198_docs_src WHERE doc_id % 2 = 0")
    s.sql("INSERT INTO graft.gate.fsck198 " +
      "SELECT doc_id, n_chars FROM q198_docs_src WHERE doc_id % 2 = 1")
    s.sql("DELETE FROM graft.gate.fsck198 WHERE doc_id % 10 = 3")
    s.sql("CALL graft.sys.fsck(table => 'gate.fsck198')")
      .orderBy("version", "check")
  }

  /** q197: MIN/MAX INCREMENTAL VIEW MAINTENANCE — the NON-retractable
    * aggregate family, maintained by DIRTY-GROUP PARTIAL RECOMPUTE
    * ([[graft.operators.Ivm.continuousMinMaxMaintenance]]): a signed
    * fold cannot lower a max when its supporting row leaves, so each
    * micro-batch recomputes EXACTLY the groups it touched from the
    * source snapshot the batch corresponds to (dirty-key bounds
    * pushed into the clustered source scan, broadcast semi-join, one
    * merge-on-read MERGE — per-batch cost O(dirty groups' rows)). The
    * fixture exercises every hard case: values LOWERED under a
    * standing max, a group's extreme row deleted, an entire group
    * vanishing, and untouched groups whose state files must hard-link
    * through (inode require()d). The oracle re-derives the final
    * min/max/count per group relationally. */
  def q197MinMaxIvm(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    val srcRoot = scratchBase.resolve("q197_src").toString
    Versioned.deleteRecursively(java.nio.file.Paths.get(srcRoot))
    s.sql("DROP TABLE IF EXISTS graft.gate.mm197")
    s.sql("CREATE TABLE graft.gate.mm197 " +
      "(k BIGINT, mn BIGINT, mx BIGINT, n BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true', " +
      "'clusterBy'='k')")
    val v0 = Tables.documents(s, dir).select(col("doc_id"),
      pmod(col("doc_id"), lit(9L)).as("k"), col("n_chars").as("v"))
    Versioned.writeNextWithFeed(v0, srcRoot, Seq("doc_id"), Seq("k", "v"))
    v0.groupBy("k").agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("n")).createOrReplaceTempView("q197_seed")
    s.sql("INSERT INTO graft.gate.mm197 SELECT k, mn, mx, n FROM q197_seed")
    // v1: group 3 vanishes, every %11 row leaves (some are extremes),
    // every %5 row's value DROPS by 200 (the case a fold cannot do)
    val v1 = v0.filter(col("k") =!= 3L)
      .filter(pmod(col("doc_id"), lit(11L)) =!= 0L)
      .withColumn("v", when(pmod(col("doc_id"), lit(5L)) === 0L,
        col("v") - 200L).otherwise(col("v")))
    Versioned.writeNextWithFeed(v1, srcRoot, Seq("doc_id"), Seq("k", "v"))
    val stateRoot = scratchBase.resolve("catalog").resolve("gate")
      .resolve("mm197").toString
    def ino(p: java.nio.file.Path): Long = java.nio.file.Files
      .getAttribute(p, "unix:ino").asInstanceOf[Long]
    val seedFiles = Versioned.dataFiles(
      java.nio.file.Paths.get(stateRoot, "v=0"))
      .map(f => f.getFileName.toString -> ino(f)).toMap
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_q197_ckpt_").toString
    def toDirty(feed: DataFrame): DataFrame =
      feed.select(col("new_k").as("k"))
        .unionByName(feed.select(col("old_k").as("k")))
        .filter(col("k").isNotNull)
    graft.operators.Ivm.continuousMinMaxMaintenance(s, srcRoot,
      "graft.gate.mm197", ckpt, Seq("k"), "v", "mn", "mx", "n",
      toDirty _, appId = "q197_mm").awaitTermination()
    s.sql("REFRESH TABLE graft.gate.mm197")
    // O(changed groups): every seed state file hard-links through
    val vCur = Versioned.latestVersion(stateRoot).get
    val cur = Versioned.dataFiles(
      java.nio.file.Paths.get(stateRoot, s"v=$vCur"))
      .map(f => f.getFileName.toString -> ino(f)).toMap
    require(seedFiles.keySet.subsetOf(cur.keySet) &&
        seedFiles.forall { case (nm, i) => cur(nm) == i },
      "q197: untouched state files must hard-link through the fold")
    // maintained ≡ recomputed (the gate-internal ground truth; the
    // oracle re-derives the same relationally)
    val recomputed = v1.groupBy("k").agg(min(col("v")).as("mn"),
      max(col("v")).as("mx"), count(lit(1)).as("n"))
      .orderBy("k").collect().toSeq
    val maintained = s.table("graft.gate.mm197").orderBy("k")
      .collect().toSeq
    require(maintained == recomputed,
      s"q197: maintained state diverged from recompute:\n" +
        s"maintained=$maintained\nrecomputed=$recomputed")
    s.table("graft.gate.mm197").orderBy("k")
  }

  /** q196: STREAMING INTO A TRANSFORM-PARTITIONED TABLE — the
    * canonical streaming sink shape (append into a `PARTITIONED BY
    * (days(ts))` table) end to end through the DSv2 streaming write:
    * the GENERATED day column fills statelessly per row, the epoch's
    * files roll at day boundaries (per-file min == max pinned from the
    * stats sidecar, require()d), and a two-day range predicate prunes
    * the streamed snapshot exactly like a batch-written one. Rows are
    * transport-invariant: the oracle re-derives the range from the
    * events parquet alone. */
  def q196StreamPartitioned(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.ev196")
    s.sql("CREATE TABLE graft.gate.ev196 " +
      "(event_id BIGINT, ts_utc TIMESTAMP, value DOUBLE) " +
      "USING `graft-versioned` PARTITIONED BY (days(ts_utc))")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_q196_ckpt_").toString
    Tables.eventsStream(s, dir)
      .withColumn("ts_utc", expr("timestamp_micros(ts div 1000)"))
      .select(col("event_id"), col("ts_utc"), col("value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.gate.ev196")
      .awaitTermination()
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("ev196")
    val v = Versioned.latestVersion(root.toString).get
    val stats = graft.operators.FileStats.read(root.resolve(s"v=$v"))
    require(stats.nonEmpty, "q196: streamed commit must carry stats")
    stats.foreach { case (f, st) =>
      val c = st.cols("ts_utc_days")
      require(c.lo.isDefined && c.lo == c.hi,
        s"q196: streamed file $f spans day values [${c.lo}, ${c.hi}]")
    }
    val probe = s.sql("SELECT event_id, unix_micros(ts_utc) * 1000 AS " +
      "ts_ns, value FROM graft.gate.ev196 " +
      "WHERE ts_utc >= timestamp'2024-01-10 00:00:00' " +
      "AND ts_utc < timestamp'2024-01-12 00:00:00'")
    probe.collect()
    val desc = probe.queryExecution.executedPlan.toString
    val m = "DataFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    require(m.isDefined, s"q196: no DataFiles marker in scan:\n$desc")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    require(total >= 10,
      s"q196: a 30-day streamed layout must yield day files, got $total")
    require(kept <= math.max(3, total / 5),
      s"q196: the two-day range read $kept/$total streamed files — " +
        "the streaming boundary roll did not pin:\n" + desc)
    probe.orderBy("event_id")
  }

  /** q192: PARTITION-SPEC EVOLUTION (Iceberg's replace-partition-field)
    * — an identity-partitioned table evolves to `bucket(8, doc_id)`
    * METADATA-ONLY: the derived bucket column is added (pre-evolution
    * files read it as null and the bucket-prune IsNull arm keeps
    * them — the gate require()s a pre-evolution point lookup still
    * answers), post-evolution inserts pin + prune (live `DataFiles`
    * pin), and an INSERT OVERWRITE rewrite re-pins every file under
    * the new spec. Rows are evolution-invariant: the oracle re-derives
    * the final table relationally. */
  def q192PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs192")
    s.sql("CREATE TABLE graft.gate.docs192 " +
      "(doc_id BIGINT, grp BIGINT, n_chars BIGINT) USING `graft-versioned` " +
      "PARTITIONED BY (grp)")
    Tables.documents(s, dir).createOrReplaceTempView("q192_docs_src")
    s.sql("INSERT INTO graft.gate.docs192 " +
      "SELECT doc_id, doc_id % 4, n_chars FROM q192_docs_src " +
      "WHERE doc_id % 2 = 0")                                    // v=0: evens
    s.sql("ALTER TABLE graft.gate.docs192 SET TBLPROPERTIES " +
      "('partitionedBy' = 'bucket(8,doc_id)')")
    val props = s.sql("SHOW TBLPROPERTIES graft.gate.docs192").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("partitionedBy").contains("bucket(8,doc_id)") &&
        props.get("clusterBy").contains("doc_id_bucket"),
      s"q192: evolution must rewrite the layout mapping, got $props")
    s.sql("INSERT INTO graft.gate.docs192 (doc_id, grp, n_chars) " +
      "SELECT doc_id, doc_id % 4, n_chars FROM q192_docs_src " +
      "WHERE doc_id % 2 = 1")                                    // v=1: odds
    // soundness: a pre-evolution row (no bucket column in its file)
    // must survive the synthetic bucket-prune filter
    val evens = s.sql(
      "SELECT n_chars FROM graft.gate.docs192 WHERE doc_id = 2").collect()
    require(evens.length == 1,
      s"q192: pre-evolution row lost to bucket pruning (${evens.length})")
    // effectiveness: an odd (post-evolution) point lookup prunes the
    // new files to the key's bucket
    val probe = s.sql(
      "SELECT n_chars FROM graft.gate.docs192 WHERE doc_id = 777")
    probe.collect()
    val m = "DataFiles: (\\d+)/(\\d+)".r
      .findFirstMatchIn(probe.queryExecution.executedPlan.toString)
    require(m.isDefined, "q192: no DataFiles marker")
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    require(kept < total,
      s"q192: post-evolution point lookup must prune ($kept/$total)")
    // the overwrite rewrite re-pins EVERY file under the new spec
    s.sql("INSERT OVERWRITE graft.gate.docs192 (doc_id, grp, n_chars) " +
      "SELECT doc_id, grp, n_chars FROM graft.gate.docs192")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs192")
    val v = Versioned.latestVersion(root.toString).get
    val vdir = root.resolve(s"v=$v")
    val stats = graft.operators.FileStats.read(vdir)
    Versioned.dataFiles(vdir).foreach { f =>
      val cs = stats(f.getFileName.toString).cols("doc_id_bucket")
      require(cs.lo.isDefined && cs.lo == cs.hi,
        s"q192: ${f.getFileName} must pin one bucket after the rewrite")
    }
    s.sql("""SELECT doc_id, grp, n_chars FROM graft.gate.docs192
             ORDER BY doc_id""")
  }

  /** q193: ROW TRACKING (Delta's rowTracking) — every row carries a
    * stable `_row_id` metadata column: assigned once at commit,
    * preserved across appends, COMPACTION (the rewrite MATERIALIZES
    * ids into a physical carrier column — `base + position` cannot
    * survive a reorder), and merge-on-read DELETE (files hard-link,
    * sidecars hide rows). The lifecycle runs insert → insert →
    * OPTIMIZE → MoR DELETE → MoR UPDATE and require()s, stage by
    * stage: untouched rows keep their EXACT ids, ids stay globally
    * unique, and the logical schema never leaks the internal carrier.
    * Ids are engine-assigned (not oracle-derivable), so the invariants
    * are in-gate; the CONTENT the lifecycle ends at is re-derived
    * relationally by DuckDB from the predicates alone. */
  def q193RowTracking(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs193")
    s.sql("CREATE TABLE graft.gate.docs193 " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES " +
      "('rowTracking'='true', 'deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q193_docs_src")
    s.sql("INSERT INTO graft.gate.docs193 " +
      "SELECT doc_id, lang, n_chars FROM q193_docs_src WHERE doc_id % 3 = 0")
    s.sql("INSERT INTO graft.gate.docs193 " +
      "SELECT doc_id, lang, n_chars FROM q193_docs_src WHERE doc_id % 3 = 1")
    def ids(): Map[Long, Long] = // gate-bounded: the sf slice's rows
      s.sql("SELECT doc_id, _row_id FROM graft.gate.docs193").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def vers(): Map[Long, Long] =
      s.sql("SELECT doc_id, _row_commit_version FROM graft.gate.docs193")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val afterInserts = ids()
    val versInserts = vers()
    require(versInserts.forall { case (doc, cv) =>
        cv == (if (doc % 3 == 0) 0L else 1L) },
      "q193: row commit versions must name each row's inserting commit")
    require(afterInserts.values.toSet.size == afterInserts.size,
      "q193: row ids must be globally unique after the inserts")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs193")
    Versioned.compact(s, root.toString)
    s.sql("REFRESH TABLE graft.gate.docs193")
    val afterCompact = ids()
    require(afterCompact == afterInserts,
      "q193: OPTIMIZE must preserve every row's id (materialized carrier)")
    require(vers() == versInserts,
      "q193: OPTIMIZE must preserve per-row commit versions, not stamp " +
        "its own")
    val v = Versioned.latestVersion(root.toString).get
    require(graft.operators.RowIds.baseMap(root.resolve(s"v=$v"))
        .values.forall(_.materialized),
      "q193: compacted files must be sidecar-flagged as materialized")
    require(!s.sql("SELECT * FROM graft.gate.docs193").columns
        .contains(graft.operators.RowIds.MaterializedCol),
      "q193: the internal carrier column must never reach the logical schema")
    s.sql("DELETE FROM graft.gate.docs193 WHERE n_chars < 300")
    val afterDelete = ids()
    require(afterDelete == afterInserts.filter {
        case (doc, _) => afterDelete.contains(doc) },
      "q193: MoR DELETE survivors must keep their exact ids")
    s.sql("UPDATE graft.gate.docs193 SET n_chars = n_chars + 1000 " +
      "WHERE doc_id % 10 = 7")
    val afterUpdate = ids()
    require(afterUpdate == afterDelete,
      "q193: EVERY row keeps its exact id across a MoR UPDATE — the " +
        "reinsert materializes the source id (the rowTracking contract)")
    require(afterUpdate.values.toSet.size == afterUpdate.size,
      "q193: row ids must stay globally unique through the lifecycle")
    // incremental-consumer contract: the update commit's rows are
    // exactly the touched ones; everything else keeps its version
    val vUpd = Versioned.latestVersion(root.toString).get
    val versUpdate = vers()
    require(versUpdate.forall { case (doc, cv) =>
        if (doc % 10 == 7) cv == vUpd else cv == versInserts(doc) },
      "q193: `_row_commit_version > n` must select exactly the rows " +
        "later commits touched")
    s.sql("""SELECT doc_id, lang, n_chars FROM graft.gate.docs193
             ORDER BY doc_id""")
  }

  /** q194: PRICE-PREDICTION LIFECYCLE — the reference's one remaining
    * end-to-end path (price_prediction/price_prediction_data_pipeline
    * .py:197-366): retrain the price model on the freshly exported
    * feed, ROLL BACK the versioned data when training fails (the
    * old-data→last-data restore), then smoke-predict a fixed 100 m²
    * payload and require `total_price > 10¹⁰` toman (the bound
    * BASELINE.md records). Engine composition: a deterministic
    * listings feed derived from the documents table loads as v0 (the
    * good old-data), a POISONED refresh (constant features — the
    * broken-upstream shape) commits as v1, training on the latest
    * snapshot fails by the EXACT integer zero-variance test,
    * [[Versioned.rollback]] drops v1, and the retrain on the restored
    * snapshot is [[graft.operators.PriceRegression]]'s one-aggregate
    * closed-form least squares. The DuckDB oracle re-derives the fit
    * bit-for-bit (mirrored determinant expressions over the same
    * exact-integer cross moments) and the smoke prediction with it. */
  def q194PriceTrainSmoke(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PriceRegression
    val root = scratchBase.resolve("q194").toString
    Versioned.deleteRecursively(java.nio.file.Paths.get(root))
    val feed = Tables.documents(s, dir).select(
      col("doc_id"),
      (lit(50L) + pmod(col("doc_id"), lit(150L))).as("area"),
      pmod(expr("doc_id div 150"), lit(5L)).as("rooms"),
      // label in MILLIONS of toman: a known linear surface plus a
      // small deterministic residual — exact BIGINT throughout
      (lit(250L) * (lit(50L) + pmod(col("doc_id"), lit(150L))) +
        lit(1500L) * pmod(expr("doc_id div 150"), lit(5L)) +
        lit(3000L) + pmod(col("doc_id"), lit(7L))).as("price_m"))
    Versioned.writeNext(feed, root)                              // v0: old-data
    Versioned.writeNext(feed.withColumn("area", lit(77L))
      .withColumn("rooms", lit(2L)), root)                       // v1: poisoned
    val bad = PriceRegression.fit(
      Versioned.read(s, root), "area", "rooms", "price_m")
    require(bad.isLeft,
      "q194: training on the poisoned feed must fail (zero variance)")
    val restored = Versioned.rollback(root)
    require(restored.contains(0L),
      s"q194: rollback must restore v0 as current, got $restored")
    val goodFit = PriceRegression.fit(
      Versioned.read(s, root), "area", "rooms", "price_m")
    val fit = goodFit.fold(m => throw new IllegalStateException(
      s"q194: retrain on the restored feed failed: $m"), identity)
    // the reference's static payload: building_size=100, all else 0
    val total = PriceRegression.predictToman(fit, area = 100L, rooms = 0L)
    require(total > 10000000000L,
      s"q194: smoke bound violated — total_price $total ≤ 10e9")
    s.range(1).select(
      lit(fit.waE6).as("wa_e6"), lit(fit.wrE6).as("wr_e6"),
      lit(fit.bE6).as("b_e6"), lit(total).as("total_price"))
  }

  /** q179: TYPE WIDENING (Delta's typeWidening) — INT→BIGINT and
    * FLOAT→DOUBLE as METADATA-ONLY retypes: narrow files are written,
    * the columns are widened by ALTER TABLE (no rewrite; the
    * `type-widening` reader+writer feature is protocol-flagged), wide
    * rows append beside them, a filter lands on the widened column
    * (mixed-file pushdown: narrow files evaluate the atom via the
    * widening read, never the native parquet filter), and an UPDATE
    * rewrites pre-widening files through the widening read path. The
    * oracle re-derives the final mixed-file table from the predicates
    * alone — any widening bug (wrong values, dropped rows, a crashed
    * narrow-file scan) shifts the hash. */
  def q179TypeWidening(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs179")
    s.sql("CREATE TABLE graft.gate.docs179 " +
      "(doc_id BIGINT, n INT, r FLOAT) USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q179_docs_src")
    s.sql("INSERT INTO graft.gate.docs179 " +
      "SELECT doc_id, cast(n_chars % 1000 AS INT), " +
      "cast(n_chars % 97 AS FLOAT) FROM q179_docs_src " +
      "WHERE doc_id % 3 = 0")                                          // v=0, narrow
    // non-widening retypes stay loud: INT→STRING reaches the catalog
    // (Spark's canUpCast admits numeric→string) and must name the
    // widening contract; the NARROWING retype may be refused by Spark
    // itself or by the catalog — refused either way is the invariant
    def refused(sql: String, needle: String): Boolean =
      try { s.sql(sql); false }
      catch { case e: Throwable =>
        needle.isEmpty ||
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .exists(t => String.valueOf(t.getMessage).contains(needle)) }
    require(refused("ALTER TABLE graft.gate.docs179 ALTER COLUMN n TYPE STRING",
        "widening"),
      "q179: INT->STRING retype must be refused")
    require(refused("ALTER TABLE graft.gate.docs179 ALTER COLUMN doc_id TYPE INT",
        ""),
      "q179: narrowing retype must be refused")
    s.sql("ALTER TABLE graft.gate.docs179 ALTER COLUMN n TYPE BIGINT")
    s.sql("ALTER TABLE graft.gate.docs179 ALTER COLUMN r TYPE DOUBLE")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs179").toString
    require(Versioned.writerFeatures(root).contains("type-widening") &&
        Versioned.readerFeatures(root).contains("type-widening"),
      "q179: widening must protocol-flag readers and writers")
    s.sql("INSERT INTO graft.gate.docs179 " +
      "SELECT doc_id, n_chars * 10000000000, n_chars + 0.25 " +
      "FROM q179_docs_src WHERE doc_id % 3 = 1")                       // v=1, wide
    // UPDATE touches pre-widening files only (doc_id%6=0 ⊂ arm A):
    // the CoW rewrite must read narrow and re-encode wide
    s.sql("UPDATE graft.gate.docs179 SET n = n + 1 WHERE doc_id % 6 = 0")
    s.sql("""SELECT doc_id, n, r FROM graft.gate.docs179
            |WHERE n >= 50 ORDER BY doc_id""".stripMargin)
  }

  /** q180: GENERATED + IDENTITY columns through real DDL (Delta's
    * `GENERATED ALWAYS AS (expr)` / `AS IDENTITY`, the catalog's
    * SUPPORTS_CREATE_TABLE_WITH_* capabilities): two inserts omit the
    * auto columns entirely, an UPDATE of a base column forces the
    * dependents to RECOMPUTE through the copy-on-write rewrite, and
    * the identity invariants (uniqueness, start/step grid, high-water
    * continuation across commits) are require()d — identity VALUES are
    * partition-dependent by design, so the hash-checked output is the
    * deterministic surface: base + generated columns, which the oracle
    * re-derives from the generation expressions alone. */
  def q180GeneratedIdentity(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs180")
    s.sql("CREATE TABLE graft.gate.docs180 (" +
      "rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 7), " +
      "doc_id BIGINT, n_chars BIGINT, " +
      "n_kilo BIGINT GENERATED ALWAYS AS (n_chars * 1000 + doc_id % 10), " +
      "tag STRING GENERATED ALWAYS AS (concat('d', cast(doc_id % 5 AS STRING)))" +
      ") USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q180_docs_src")
    s.sql("INSERT INTO graft.gate.docs180 (doc_id, n_chars) " +
      "SELECT doc_id, n_chars FROM q180_docs_src WHERE doc_id % 2 = 0")
    val max1 = s.sql("SELECT max(rid) FROM graft.gate.docs180")
      .collect()(0).getLong(0)
    s.sql("INSERT INTO graft.gate.docs180 (doc_id, n_chars) " +
      "SELECT doc_id, n_chars FROM q180_docs_src WHERE doc_id % 2 = 1")
    s.sql("UPDATE graft.gate.docs180 SET n_chars = n_chars + 5 " +
      "WHERE doc_id % 7 = 0")
    val inv = s.sql(
      """SELECT count(*) AS nr, count(DISTINCT rid) AS nd,
        |  min(rid) AS lo,
        |  sum(CASE WHEN (rid - 100) % 7 = 0 THEN 0 ELSE 1 END) AS off_grid,
        |  min(CASE WHEN doc_id % 2 = 1 THEN rid END) AS min_batch2
        |FROM graft.gate.docs180""".stripMargin).collect()(0)
    require(inv.getLong(0) == inv.getLong(1),
      "q180: identity values must be unique")
    require(inv.getLong(2) >= 100L && inv.getLong(3) == 0L,
      "q180: identity values must sit on the start/step grid")
    require(inv.getLong(4) > max1,
      "q180: the second insert must continue past the high-water mark")
    s.sql("""SELECT doc_id, n_chars, n_kilo, tag
            |FROM graft.gate.docs180 ORDER BY doc_id""".stripMargin)
  }

  /** q181: DEFAULT column values through DDL — the analyzer fills
    * omitted columns and the DEFAULT keyword from the manifest-carried
    * default (CURRENT_DEFAULT/EXISTS_DEFAULT field metadata, Spark's
    * own resolution machinery; the store just persists it). The gate
    * mixes defaulted, keyword-DEFAULT and explicit inserts and the
    * oracle re-derives every row from the insert predicates alone. */
  def q181DefaultValues(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs181")
    s.sql("CREATE TABLE graft.gate.docs181 (doc_id BIGINT, " +
      "status STRING DEFAULT 'new', boost BIGINT DEFAULT 100) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q181_docs_src")
    s.sql("INSERT INTO graft.gate.docs181 (doc_id) " +
      "SELECT doc_id FROM q181_docs_src WHERE doc_id % 3 = 0")
    s.sql("INSERT INTO graft.gate.docs181 " +
      "SELECT doc_id, 'seen', DEFAULT FROM q181_docs_src WHERE doc_id % 3 = 1")
    s.sql("INSERT INTO graft.gate.docs181 " +
      "SELECT doc_id, 'done', n_chars FROM q181_docs_src WHERE doc_id % 3 = 2")
    s.sql("""SELECT doc_id, status, boost FROM graft.gate.docs181
            |ORDER BY doc_id""".stripMargin)
  }

  /** q182: ATOMIC CTAS + REPLACE-preserving-history (Delta's REPLACE
    * semantics through StagingTableCatalog) — the table is created AS
    * SELECT, tagged, REPLACED AS SELECT with a different schema and
    * slice, and the gate emits BOTH the post-replace content and the
    * pre-replace snapshot read through the new contract (id survives,
    * the replaced-away column null-fills) — time travel across a
    * REPLACE is the history-preservation proof, and the oracle
    * re-derives every row from the two SELECT predicates alone. */
  def q182ReplaceHistory(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs182")
    Tables.documents(s, dir).createOrReplaceTempView("q182_docs_src")
    s.sql("CREATE TABLE graft.gate.docs182 USING `graft-versioned` AS " +
      "SELECT doc_id, n_chars FROM q182_docs_src WHERE doc_id % 4 = 0")
    s.sql("CALL graft.sys.tag(table => 'gate.docs182', name => 'pre')")
    s.sql("CREATE OR REPLACE TABLE graft.gate.docs182 " +
      "USING `graft-versioned` AS " +
      "SELECT doc_id, lang FROM q182_docs_src WHERE doc_id % 4 = 1")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs182").toString
    require(Versioned.versions(root) == Seq(0L, 1L),
      "q182: REPLACE must land as one commit on the same root " +
        s"(got versions ${Versioned.versions(root).mkString(", ")})")
    s.sql("""SELECT 'cur' AS snap, doc_id, lang FROM graft.gate.docs182
            |UNION ALL
            |SELECT 'pre', doc_id, lang
            |FROM graft.gate.docs182 VERSION AS OF 'pre'
            |ORDER BY snap, doc_id""".stripMargin)
  }

  /** q173: APPEND-ONLY TABLES (Delta's `delta.appendOnly` + the
    * `append-only` writer-feature flag) — the audit-log contract:
    * history is evidence, so the table accepts INSERT commits only and
    * every mutation verb refuses loudly. The gate inserts twice, then
    * require()s that DELETE, UPDATE, MERGE and INSERT OVERWRITE are
    * all refused AND that the protocol carries the writer flag (a
    * foreign build that doesn't know the property refuses commits
    * instead of breaking the promise); the output is the table after
    * the refused mutations, which the oracle re-derives as the pure
    * insert history — any mutation that slipped through shifts the
    * hash. */
  def q173AppendOnly(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs173")
    s.sql("CREATE TABLE graft.gate.docs173 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('appendOnly'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q173_docs_src")
    s.sql("INSERT INTO graft.gate.docs173 " +
      "SELECT doc_id, n_chars FROM q173_docs_src WHERE doc_id % 3 = 0") // v=0
    s.sql("INSERT INTO graft.gate.docs173 " +
      "SELECT doc_id, n_chars FROM q173_docs_src WHERE doc_id % 3 = 1") // v=1
    def refused(sql: String): Boolean =
      try { s.sql(sql); false }
      catch { case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(t => String.valueOf(t.getMessage).contains("appendOnly")) }
    require(refused("DELETE FROM graft.gate.docs173 WHERE doc_id = 0"),
      "q173: DELETE must be refused on an appendOnly table")
    require(refused("UPDATE graft.gate.docs173 SET n_chars = 0 WHERE doc_id = 3"),
      "q173: UPDATE must be refused on an appendOnly table")
    require(refused("MERGE INTO graft.gate.docs173 t USING " +
      "(SELECT 3L AS doc_id, 0L AS n_chars) s ON t.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars"),
      "q173: MERGE must be refused on an appendOnly table")
    require(refused("INSERT OVERWRITE graft.gate.docs173 " +
      "SELECT doc_id, n_chars FROM q173_docs_src WHERE doc_id = 1"),
      "q173: INSERT OVERWRITE must be refused on an appendOnly table")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs173").toString
    require(Versioned.writerFeatures(root).contains("append-only"),
      "q173: the append-only writer feature must be protocol-flagged")
    s.sql("SELECT doc_id, n_chars FROM graft.gate.docs173 ORDER BY doc_id")
  }

  private lazy val AgeRoot = scratchBase.resolve("q174").toString

  /** q174: TIME-BASED RETENTION (Delta's `RETAIN <interval>`, the
    * reference's dated-prefix retention, utils_of_backup.py:155-164) —
    * four stamped commits at a controlled stamp ladder, one TAGGED,
    * then a retention sweep with an absolute horizon: versions older
    * than the horizon die UNLESS tagged or within the keep floor. The
    * output is what actually survived on disk (version column over the
    * surviving dirs, q63's shape); the oracle re-derives the survivors
    * from the predicates — a sweep that deleted the tagged version, or
    * kept an expired one, shifts rows. */
  def q174AgeRetention(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(AgeRoot))
    val base = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    (0 until 4).foreach { i =>
      Versioned.writeNext(base.filter(pmod(col("doc_id"), lit(4)) === i),
        AgeRoot, commitTs = Some(1000L + i * 1000L)) // v=i at stamp 1000(i+1)
    }
    Versioned.tagVersion(AgeRoot, "keep-me", Some(1L))
    // horizon 3500: v=0 (1000) and v=2 (3000) are expired; v=1 is
    // expired too but TAGGED; v=3 (4000) is inside keep=1 anyway
    val survivors = Versioned.applyRetention(AgeRoot, keep = 1,
      beforeStamp = Some(3500L))
    require(survivors == Seq(1L, 3L),
      s"q174: expected tagged v=1 + newest v=3 to survive, got $survivors")
    s.read.option("basePath", AgeRoot).parquet(s"$AgeRoot/v=*")
      .select(col("v").cast(IntegerType).as("v"), col("doc_id"), col("n_chars"))
      .orderBy("v", "doc_id")
  }

  private lazy val CpRoot = scratchBase.resolve("q175").toString

  /** q175: COMMIT-LOG CHECKPOINT under `TIMESTAMP AS OF` — 21 stamped
    * commits build a long history; every 10th commit wrote the
    * aggregated `_graft_checkpoint`, so timestamp resolution reads ONE
    * checkpoint + the post-cover tail instead of one stamp file per
    * version (O(history) GETs on an object store — the `_last_
    * checkpoint` contract). The gate require()s the checkpoint exists
    * and covers v=19, that checkpoint-resolved `TIMESTAMP AS OF` picks
    * the same version as an explicit stamp-file walk, and returns the
    * mid-history snapshot — which the oracle re-derives from the
    * predicate alone. Stale/corrupt/absent checkpoint fallback lives
    * in CheckpointSpec. */
  def q175CheckpointTravel(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(CpRoot))
    val base = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("n_chars"))
    (0 until 21).foreach { i =>
      Versioned.writeNext(base.withColumn("epoch", lit(i.toLong)),
        CpRoot, commitTs = Some(1000L + i)) // v=i at stamp 1000+i
    }
    val cp = Versioned.readCheckpoint(CpRoot)
    require(cp.exists(_._1 == 19L),
      s"q175: checkpoint must exist and cover v=19 after 21 commits, " +
        s"got ${cp.map(_._1)}")
    // checkpoint-resolved == walk-resolved (the accelerator never
    // changes the answer)
    val viaCp = Versioned.resolveAsOf(CpRoot, 1012L)
    val viaWalk = Versioned.versions(CpRoot)
      .flatMap(v => Versioned.commitStamp(CpRoot, v).map(v -> _))
      .filter(_._2 <= 1012L).maxBy(e => (e._2, e._1))._1
    require(viaCp == 12L && viaWalk == 12L,
      s"q175: TIMESTAMP AS OF 1012 must resolve v=12 (cp=$viaCp, walk=$viaWalk)")
    Versioned.readAsOf(s, CpRoot, 1012L)
      .select(col("doc_id"), col("n_chars"), col("epoch"))
      .orderBy("doc_id")
  }

  /** q176: WRITE-TIME SCHEMA EVOLUTION (Delta's autoMerge/mergeSchema)
    * — an append whose source carries a NEW column evolves the table:
    * metadata-only (q152's ADD COLUMN null-fill), under the explicit
    * `autoMerge` table property. The gate inserts the two-column base,
    * appends a THREE-column DataFrame (new `lang`), and returns the
    * full table — pre-evolution rows must read the new column as null
    * and post-evolution rows must carry it; the oracle re-derives both
    * halves from the documents table. A silent drop of the new column,
    * a failure to null-fill, or a rejected append all shift the hash. */
  def q176EvolveAppend(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs176")
    s.sql("CREATE TABLE graft.gate.docs176 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('autoMerge'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q176_docs_src")
    s.sql("INSERT INTO graft.gate.docs176 " +
      "SELECT doc_id, n_chars FROM q176_docs_src WHERE doc_id % 2 = 0") // v=0
    // the evolving append: a source with a NEW column (lang)
    Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .writeTo("graft.gate.docs176").append()                           // v=1
    s.sql("SELECT doc_id, n_chars, lang FROM graft.gate.docs176 " +
      "ORDER BY doc_id")
  }

  /** q177: MERGE … WITH SCHEMA EVOLUTION — the other half of write-time
    * evolution (q176 covers append): a MERGE whose SOURCE carries a new
    * column evolves the target under the explicit keyword (Spark's
    * ResolveMergeIntoSchemaEvolution routes the new column through the
    * catalog's metadata-only ADD COLUMN — collision-safe physical
    * names included), updates matched rows, inserts unmatched ones,
    * and null-fills everything the merge didn't touch. Without the
    * keyword MERGE stays strict. The oracle re-derives all three row
    * classes from predicates alone. */
  def q177MergeEvolution(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs177")
    s.sql("CREATE TABLE graft.gate.docs177 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q177_docs_src")
    s.sql("INSERT INTO graft.gate.docs177 " +
      "SELECT doc_id, n_chars FROM q177_docs_src WHERE doc_id % 2 = 0") // v=0
    s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.gate.docs177 t
             USING (SELECT doc_id, n_chars, lang FROM q177_docs_src
                    WHERE doc_id % 3 = 0) s
             ON t.doc_id = s.doc_id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")                         // v=1
    s.sql("SELECT doc_id, n_chars, lang FROM graft.gate.docs177 " +
      "ORDER BY doc_id")
  }

  private lazy val BatchCdfRoot = scratchBase.resolve("q168").toString

  /** q168: the change feed as a BATCH read (Delta's `readChangeFeed`
    * audit/backfill shape) — q141's exact stored feed, but drained by
    * `spark.read` with a `[startingVersion, endingVersion]` range
    * instead of a streaming query: one distributed scan over the feed
    * files of the covered commits, no checkpoint machinery. Shares
    * q141's batch-diff oracle, so stream and batch are on the hook for
    * the SAME rows; range semantics (endingVersion excludes later
    * commits, a [0,0] read is v=0's all-'added' feed) are require()d
    * in-gate, and the loud no-feed / inverted-range / beyond-latest
    * cases live in VersionedDsv2Spec. */
  def q168BatchChangeFeed(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(BatchCdfRoot))
    val base = Tables.documents(s, dir).select(col("doc_id"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))
    val v0 = base.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val v1 = base.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("price", col("price") +
        when(pmod(col("doc_id"), lit(3)) === 0, 7L).otherwise(0L))
    Versioned.writeNextWithFeed(v0, BatchCdfRoot, Seq("doc_id"), Seq("price")) // v=0
    Versioned.writeNextWithFeed(v1, BatchCdfRoot, Seq("doc_id"), Seq("price")) // v=1
    def feed(from: Long, to: Long) = s.read.format("graft-versioned")
      .option("changeFeed", "true")
      .option("startingVersion", from.toString)
      .option("endingVersion", to.toString)
      .load(BatchCdfRoot)
    // range semantics: [0,0] is exactly v=0's bootstrap feed — every
    // v0 row once, all 'added', nothing from v=1 leaking in
    val bootstrap = feed(0L, 0L)
    require(bootstrap.where(col("change_type") =!= "added").isEmpty,
      "q168: the [0,0] feed slice must be all 'added'")
    require(bootstrap.count() == v0.count(),
      "q168: the [0,0] feed slice must cover exactly v=0's rows")
    feed(1L, 1L)
      .select(col("doc_id"), col("change_type"),
        col("old_price"), col("new_price"))
      .orderBy("doc_id")
  }

  private lazy val ThrottleRoot = scratchBase.resolve("q159").toString

  /** q159: ADMISSION CONTROL on the change-feed source — q141's exact
    * data drained with `maxVersionsPerTrigger=1`, so the 2-commit
    * backlog MUST arrive as two separate checkpointed micro-batches
    * (require()d from the query's progress), and the union must still
    * hash-match q141's batch-diff oracle: bounding the catch-up batch
    * changes the failure domain, never the rows. The N-batch drain and
    * resume discipline are spec'd in ChangeFeedAdmissionSpec. */
  def q159ThrottledChangeFeed(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(ThrottleRoot))
    val base = Tables.documents(s, dir).select(col("doc_id"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))
    val v0 = base.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val v1 = base.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("price", col("price") +
        when(pmod(col("doc_id"), lit(3)) === 0, 7L).otherwise(0L))
    Versioned.writeNextWithFeed(v0, ThrottleRoot, Seq("doc_id"), Seq("price")) // v=0
    Versioned.writeNextWithFeed(v1, ThrottleRoot, Seq("doc_id"), Seq("price")) // v=1
    val name = s"q159_feed_${System.nanoTime()}"
    val q = s.readStream.format("graft-versioned")
      .option("changeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(ThrottleRoot)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    require(batches == 2,
      s"q159: a 2-commit backlog at maxVersionsPerTrigger=1 must drain " +
        s"in exactly 2 micro-batches, got $batches")
    s.table(name)
      .filter(col("commit_version") === 1L)
      .select(col("doc_id"), col("change_type"),
        col("old_price"), col("new_price"))
      .orderBy("doc_id")
  }

  private lazy val TableStreamScratch = scratchBase.resolve("q162")

  /** q162: the versioned TABLE ITSELF as a streaming source (the Delta
    * `readStream` shape, [[graft.sources]] GraftTableStream) — distinct
    * from the stored change feed: the first batch is the full snapshot
    * pinned at stream start, every later commit streams exactly its new
    * files. The gate drives BOTH paths against a catalog table built
    * from documents slices: two INSERT commits → AvailableNow drain
    * (snapshot at v=1) → a third INSERT → resume from the same
    * checkpoint (append-only delta, require()d to be one batch with no
    * re-snapshot). The accumulated parquet sink must equal the three
    * slices' union — which the oracle derives straight from the
    * documents table, so a hash match certifies snapshot + incremental
    * delivery end-to-end. Reference consumer: the search-feed loader's
    * watermark poll loop (load_data_from_search_db_to_es_db.py) is this
    * source as one declarative stream. */
  def q162StreamTableRead(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs162")
    s.sql("CREATE TABLE graft.gate.docs162 " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q162_docs_src")
    def slice(r: Int): Unit = s.sql("INSERT INTO graft.gate.docs162 " +
      s"SELECT doc_id, lang, n_chars FROM q162_docs_src WHERE doc_id % 3 = $r")
    slice(0) // v=0
    slice(1) // v=1
    Versioned.deleteRecursively(TableStreamScratch)
    val ckpt = TableStreamScratch.resolve("ckpt").toString
    val out = TableStreamScratch.resolve("out").toString
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = s.readStream.table("graft.gate.docs162")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    drain() // one batch: the full snapshot at v=1
    val snapRows = s.read.parquet(out).count()
    slice(2) // v=2, committed AFTER the stream's snapshot
    val resumed = drain() // resume: exactly the new commit's files
    val deltaBatches = resumed.recentProgress.filter(_.numInputRows > 0)
    require(deltaBatches.length == 1,
      s"q162: the resumed drain must carry ONE append batch, got " +
        s"${deltaBatches.length}")
    require(deltaBatches.head.numInputRows == s.read.parquet(out).count() - snapRows,
      "q162: the resumed batch must hold exactly the third slice — a " +
        "re-snapshot would double-count")
    s.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** The graft TableCatalog wired into the session: versioned tables as
    * SQL citizens (`spark.sql.catalog.graft` → [[graft.sources.GraftCatalog]]).
    * Confs are idempotent; the catalog instance is cached by Spark after
    * first reference, and the warehouse is process-scoped scratch. */
  private def ensureCatalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      scratchBase.resolve("catalog").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
  }

  /** q144: SQL DDL/DML against the version store through the
    * TableCatalog plugin — CREATE TABLE USING graft-versioned, two
    * INSERT INTOs (each an atomic append commit: v=0 then v=1 =
    * v0 ∪ rows, previous files hard-linked, one rename publishes), and
    * a plain SQL aggregate over the table by NAME. The oracle aggregates
    * the same predicate union straight off the documents parquet, so a
    * hash match certifies the whole catalog → DSv2 write → commit →
    * DSv2 read loop. */
  /** q201: VARIANT INGEST — Spark 4's semi-structured type as a
    * version-store column (the heterogeneous-document lakehouse shape:
    * store the raw JSON ONCE as variant, extract typed fields at
    * query time). The store encodes a variant as one un-annotated
    * BINARY ([4-byte BE metadata length][metadata][value] — see
    * `VersionedDataWriter.fileSchema`), which makes the type-contract
    * refusals structural: FileStats collects no min/max on un-annotated
    * binary, `statOrdered` refuses MIN/MAX agg pushdown, and no source
    * Filter can reference a variant column — extraction predicates stay
    * engine-side residuals, require()d in-gate via the scan's empty
    * PushedFilters. The gate round-trips documents → parse_json →
    * variant column → `variant_get` extraction + filter; the oracle
    * states the extracted fields straight off the parquet (extraction
    * must invert ingestion exactly). */
  def q201VariantIngest(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs201")
    s.sql("CREATE TABLE graft.gate.docs201 (doc_id BIGINT, payload VARIANT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q201_docs_src")
    s.sql("INSERT INTO graft.gate.docs201 " +
      "SELECT doc_id, parse_json(to_json(struct(lang, source, n_chars))) " +
      "FROM q201_docs_src")
    val out = s.sql(
      """SELECT doc_id,
        |  variant_get(payload, '$.lang', 'string') AS lang,
        |  variant_get(payload, '$.source', 'string') AS source,
        |  variant_get(payload, '$.n_chars', 'bigint') AS n_chars
        |FROM graft.gate.docs201
        |WHERE variant_get(payload, '$.source', 'string') IN ('src3', 'src7')
        |ORDER BY doc_id""".stripMargin)
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("PushedFilters: []"),
      s"q201: variant predicates must stay engine-side residuals " +
        s"(loud refusal, never a wrong prune):\n$plan")
    out
  }

  def q144CatalogSql(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs144")
    s.sql("CREATE TABLE graft.gate.docs144 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q144_docs_src")
    s.sql("INSERT INTO graft.gate.docs144 " +
      "SELECT doc_id, lang, n_chars FROM q144_docs_src WHERE doc_id % 3 = 0")
    s.sql("INSERT INTO graft.gate.docs144 " +
      "SELECT doc_id, lang, n_chars FROM q144_docs_src WHERE doc_id % 3 = 1")
    s.sql("""SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
             FROM graft.gate.docs144 GROUP BY lang ORDER BY lang""")
  }

  /** q145: SQL time travel through the catalog — INSERT INTO builds
    * v=0, INSERT OVERWRITE (snapshot replace, the reference's
    * copy-then-replace discipline as a SQL verb) builds v=1, and the
    * query reads BOTH `VERSION AS OF 0` and the current table in one
    * result. The oracle derives each snapshot's membership from the
    * insert predicates, so the hash certifies that overwrite replaced
    * the current snapshot while history stayed pinned. */
  def q145CatalogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs145")
    s.sql("CREATE TABLE graft.gate.docs145 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q145_docs_src")
    s.sql("INSERT INTO graft.gate.docs145 " +
      "SELECT doc_id, n_chars FROM q145_docs_src WHERE doc_id % 2 = 0")
    s.sql("INSERT OVERWRITE graft.gate.docs145 " +
      "SELECT doc_id, n_chars FROM q145_docs_src WHERE doc_id % 7 = 0")
    s.sql("""SELECT 'v0' AS snap, doc_id, n_chars
             FROM graft.gate.docs145 VERSION AS OF 0
             UNION ALL
             SELECT 'cur' AS snap, doc_id, n_chars FROM graft.gate.docs145
             ORDER BY snap, doc_id""")
  }

  /** q147: the maintenance lifecycle driven ENTIRELY from SQL —
    * two INSERT commits, `CALL sys.compact` (OPTIMIZE rewrite as v=2),
    * `CALL sys.rollback` (drop it), compact again, `CALL sys.retain`
    * keep=1 (only the compacted version survives). The output is the
    * table's data aggregated per language AFTER all of that; the oracle
    * recomputes it from documents — so the hash certifies that the
    * whole compact→rollback→compact→retain dance was data-lossless. */
  def q147SqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs147")
    s.sql("CREATE TABLE graft.gate.docs147 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q147_docs_src")
    s.sql("INSERT INTO graft.gate.docs147 " +
      "SELECT doc_id, lang, n_chars FROM q147_docs_src WHERE doc_id % 4 = 0")
    s.sql("INSERT INTO graft.gate.docs147 " +
      "SELECT doc_id, lang, n_chars FROM q147_docs_src WHERE doc_id % 4 = 1")
    s.sql("CALL graft.sys.compact(table => 'gate.docs147')")       // v=2
    s.sql("CALL graft.sys.rollback(table => 'gate.docs147')")      // back to v=1
    s.sql("CALL graft.sys.compact(table => 'gate.docs147')")       // v=2 again
    s.sql("CALL graft.sys.retain(table => 'gate.docs147', keep => 1)")
    s.sql("""SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
             FROM graft.gate.docs147 GROUP BY lang ORDER BY lang""")
  }

  /** q149: SQL `DELETE FROM` as a copy-on-write commit — the survivors
    * land in a NEW version (null-predicate rows kept, the P10 rule) and
    * `VERSION AS OF 0` still shows the pre-delete snapshot; the output
    * exhibits both, and the oracle re-derives each from the insert +
    * delete predicates alone. */
  def q149SqlDelete(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs149")
    s.sql("CREATE TABLE graft.gate.docs149 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q149_docs_src")
    s.sql("INSERT INTO graft.gate.docs149 " +
      "SELECT doc_id, lang, n_chars FROM q149_docs_src WHERE doc_id % 3 = 0")
    s.sql("DELETE FROM graft.gate.docs149 WHERE n_chars < 400 OR doc_id < 60")
    s.sql("""SELECT 'pre' AS snap, lang, cast(count(*) AS bigint) AS n_docs
             FROM graft.gate.docs149 VERSION AS OF 0 GROUP BY lang
             UNION ALL
             SELECT 'post' AS snap, lang, cast(count(*) AS bigint) AS n_docs
             FROM graft.gate.docs149 GROUP BY lang
             ORDER BY snap, lang""")
  }

  /** q150: SQL `UPDATE` as a group-based copy-on-write row-level
    * operation (`SupportsRowLevelOperations`, group = the snapshot).
    * The condition mixes a modulo term (NOT expressible as a source
    * filter — forces the full rewrite, never a metadata shortcut) with
    * a plain comparison; the updated rows land in a NEW version, so
    * `VERSION AS OF 0` still shows every pre-update row. The oracle
    * re-derives pre from the insert predicate and post from the same
    * predicate + a CASE mirroring the SET clause. */
  def q150SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs150")
    s.sql("CREATE TABLE graft.gate.docs150 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q150_docs_src")
    s.sql("INSERT INTO graft.gate.docs150 " +
      "SELECT doc_id, lang, n_chars FROM q150_docs_src WHERE doc_id % 3 = 0")
    s.sql("UPDATE graft.gate.docs150 SET n_chars = n_chars + 1000 " +
      "WHERE doc_id % 2 = 0 AND n_chars >= 200")
    s.sql("""SELECT 'pre' AS snap, doc_id, n_chars
             FROM graft.gate.docs150 VERSION AS OF 0
             UNION ALL
             SELECT 'post' AS snap, doc_id, n_chars FROM graft.gate.docs150
             ORDER BY snap, doc_id""")
  }

  /** q151: SQL `MERGE INTO` through the same group-based rewrite, all
    * three clause families at once — MATCHED UPDATE (guarded), NOT
    * MATCHED INSERT, NOT MATCHED BY SOURCE DELETE (guarded). Target =
    * docs with doc_id%3=0, source = docs with doc_id%2=0, so the three
    * populations (matched %6=0; source-only; target-only) are all
    * non-empty and the oracle reconstructs each from the predicates. */
  def q151MergeInto(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs151")
    s.sql("CREATE TABLE graft.gate.docs151 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q151_docs_src")
    s.sql("INSERT INTO graft.gate.docs151 " +
      "SELECT doc_id, lang, n_chars FROM q151_docs_src WHERE doc_id % 3 = 0")
    s.sql("""MERGE INTO graft.gate.docs151 t
             USING (SELECT doc_id, lang, n_chars FROM q151_docs_src
                    WHERE doc_id % 2 = 0) s
             ON t.doc_id = s.doc_id
             WHEN MATCHED AND s.n_chars > 500 THEN
               UPDATE SET n_chars = s.n_chars + 5
             WHEN NOT MATCHED THEN
               INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.n_chars)
             WHEN NOT MATCHED BY SOURCE AND t.n_chars < 300 THEN
               DELETE""")
    s.sql("""SELECT 'pre' AS snap, doc_id, n_chars
             FROM graft.gate.docs151 VERSION AS OF 0
             UNION ALL
             SELECT 'post' AS snap, doc_id, n_chars FROM graft.gate.docs151
             ORDER BY snap, doc_id""")
  }

  /** q152: schema evolution end-to-end — `ALTER TABLE ADD COLUMN` is a
    * metadata-only commit (no file rewritten), a post-evolution insert
    * fills the new column, and a row-level UPDATE then mutates ACROSS
    * the mixed-schema snapshot (pre-evolution files null-fill). The
    * oracle re-derives the final state from the predicates alone; lang
    * is non-null in the driver table, so the UPDATE's `lang IS NULL`
    * hits exactly the pre-evolution rows. */
  def q152SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs152")
    s.sql("CREATE TABLE graft.gate.docs152 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q152_docs_src")
    s.sql("INSERT INTO graft.gate.docs152 " +
      "SELECT doc_id, n_chars FROM q152_docs_src WHERE doc_id % 3 = 0")
    s.sql("ALTER TABLE graft.gate.docs152 ADD COLUMN lang STRING")
    s.sql("INSERT INTO graft.gate.docs152 " +
      "SELECT doc_id, n_chars, lang FROM q152_docs_src WHERE doc_id % 3 = 1")
    s.sql("UPDATE graft.gate.docs152 SET lang = 'none' " +
      "WHERE lang IS NULL AND doc_id % 2 = 0")
    s.sql("""SELECT doc_id, n_chars, coalesce(lang, '?') AS lang
             FROM graft.gate.docs152 ORDER BY doc_id""")
  }

  /** q153: change-data-feed through plain SQL — a `changeFeedKeys`
    * table stores a keyed diff feed on every commit: the INSERT's
    * all-'added' feed, the UPDATE's 'changed' rows (old/new payload),
    * the metadata-path DELETE's 'removed' rows. The output is the
    * union of the STORED feeds; the oracle re-derives every feed row
    * from the predicates alone. */
  def q153CatalogChangeFeed(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs153")
    s.sql("CREATE TABLE graft.gate.docs153 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('changeFeedKeys'='doc_id')")
    Tables.documents(s, dir).createOrReplaceTempView("q153_docs_src")
    s.sql("INSERT INTO graft.gate.docs153 " +
      "SELECT doc_id, n_chars FROM q153_docs_src WHERE doc_id % 3 = 0")
    s.sql("UPDATE graft.gate.docs153 SET n_chars = n_chars + 7 " +
      "WHERE doc_id % 2 = 0")
    s.sql("DELETE FROM graft.gate.docs153 WHERE n_chars < 300")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs153").toString
    Versioned.feedVersions(root)
      .map(v => s.read.parquet(Versioned.feedDir(root, v)))
      .reduce(_.unionByName(_))
      .orderBy(col("commit_version"), col("doc_id"))
  }

  /** q154: RESTORE + SHALLOW CLONE as SQL verbs — restore brings the
    * pre-overwrite snapshot back as a NEW commit (the overwrite stays
    * addressable), the clone materializes the restored snapshot as a
    * fresh table sharing the immutable files; the output exhibits all
    * three states and the oracle re-derives each from the insert
    * predicates alone. */
  def q154RestoreClone(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs154c")
    s.sql("DROP TABLE IF EXISTS graft.gate.docs154")
    s.sql("CREATE TABLE graft.gate.docs154 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q154_docs_src")
    s.sql("INSERT INTO graft.gate.docs154 " +
      "SELECT doc_id, n_chars FROM q154_docs_src WHERE doc_id % 5 = 0")
    s.sql("INSERT OVERWRITE graft.gate.docs154 " +
      "SELECT doc_id, n_chars FROM q154_docs_src WHERE doc_id % 7 = 0")
    s.sql("CALL graft.sys.restore(table => 'gate.docs154', version => 0)")
    s.sql("CALL graft.sys.clone(source => 'gate.docs154', target => 'gate.docs154c')")
    s.sql("""SELECT 'restored' AS snap, doc_id, n_chars FROM graft.gate.docs154
             UNION ALL
             SELECT 'overwrite' AS snap, doc_id, n_chars
             FROM graft.gate.docs154 VERSION AS OF 1
             UNION ALL
             SELECT 'clone' AS snap, doc_id, n_chars FROM graft.gate.docs154c
             ORDER BY snap, doc_id""")
  }

  /** q155: SQL CHECK constraints — added via DDL, enforced on every
    * subsequent write: the conforming insert lands, the violating one
    * is REJECTED atomically (no partial version — the count must be
    * exactly the conforming predicate's). The gate itself asserts the
    * rejection happened; the oracle certifies that nothing beyond the
    * conforming rows ever reached the table. */
  def q155CheckConstraints(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs155")
    s.sql("CREATE TABLE graft.gate.docs155 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned`")
    s.sql("ALTER TABLE graft.gate.docs155 ADD CONSTRAINT chars_min " +
      "CHECK (n_chars >= 300)")
    Tables.documents(s, dir).createOrReplaceTempView("q155_docs_src")
    s.sql("INSERT INTO graft.gate.docs155 " +
      "SELECT doc_id, n_chars FROM q155_docs_src " +
      "WHERE doc_id % 3 = 0 AND n_chars >= 300")
    val rejected =
      try {
        s.sql("INSERT INTO graft.gate.docs155 " +
          "SELECT doc_id, n_chars FROM q155_docs_src WHERE doc_id % 3 = 1")
        false
      } catch { case _: Exception => true }
    require(rejected, "q155: the violating insert must be rejected " +
      "(the driver tables contain sub-300 documents at every scale)")
    s.sql("SELECT doc_id, n_chars FROM graft.gate.docs155 ORDER BY doc_id")
  }

  /** q156: MERGE-ON-READ deletion vectors — q149's exact DELETE
    * lifecycle on a `deletionVectors=true` table, sharing q149's
    * predicate-derived oracle: the final snapshots must be IDENTICAL to
    * the copy-on-write path's (representation changes, rows never do).
    * The gate itself require()s the merge-on-read mechanics: the
    * post-delete version hard-links every pre-delete data file under
    * the same name (history shows no file rewrite) and carries DV
    * sidecars instead. */
  def q156DvDelete(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs156")
    s.sql("CREATE TABLE graft.gate.docs156 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q156_docs_src")
    s.sql("INSERT INTO graft.gate.docs156 " +
      "SELECT doc_id, lang, n_chars FROM q156_docs_src WHERE doc_id % 3 = 0")
    s.sql("DELETE FROM graft.gate.docs156 WHERE n_chars < 400 OR doc_id < 60")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs156")
    def names(v: String) = Versioned.dataFiles(root.resolve(v))
      .map(_.getFileName.toString).toSet
    require(names("v=1") == names("v=0"),
      "q156: a DV-mode DELETE must not rewrite or drop any data file")
    require(graft.operators.DeletionVectors.hasDvs(root.resolve("v=1")),
      "q156: the DELETE commit must carry deletion-vector sidecars")
    s.sql("""SELECT 'pre' AS snap, lang, cast(count(*) AS bigint) AS n_docs
             FROM graft.gate.docs156 VERSION AS OF 0 GROUP BY lang
             UNION ALL
             SELECT 'post' AS snap, lang, cast(count(*) AS bigint) AS n_docs
             FROM graft.gate.docs156 GROUP BY lang
             ORDER BY snap, lang""")
  }

  /** q157: COLUMN MAPPING — RENAME and DROP COLUMN as metadata-only
    * evolution. Files always store physical (birth) names; the rename
    * moves the logical binding only, so pre-rename files stay readable
    * with zero rewrites (require()d: the DDL writes no data version).
    * The lifecycle crosses every boundary: write → rename → drop →
    * write more (mixed physical/logical history) → row-level UPDATE
    * across the mixed files; the oracle re-derives the final state
    * from the predicates alone. */
  def q157ColumnMapping(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs157")
    s.sql("CREATE TABLE graft.gate.docs157 " +
      "(doc_id BIGINT, n_chars BIGINT, lang STRING) USING `graft-versioned`")
    Tables.documents(s, dir).createOrReplaceTempView("q157_docs_src")
    s.sql("INSERT INTO graft.gate.docs157 " +
      "SELECT doc_id, n_chars, lang FROM q157_docs_src WHERE doc_id % 3 = 0")
    s.sql("ALTER TABLE graft.gate.docs157 RENAME COLUMN n_chars TO chars")
    s.sql("ALTER TABLE graft.gate.docs157 DROP COLUMN lang")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs157").toString
    require(Versioned.versions(root) == Seq(0L),
      "q157: RENAME/DROP must be metadata-only — no data version written")
    s.sql("INSERT INTO graft.gate.docs157 " +
      "SELECT doc_id, n_chars FROM q157_docs_src WHERE doc_id % 3 = 1")
    s.sql("UPDATE graft.gate.docs157 SET chars = chars + 1000 " +
      "WHERE doc_id % 2 = 0")
    s.sql("SELECT doc_id, chars FROM graft.gate.docs157 ORDER BY doc_id")
  }

  /** q158: the change feed is REPRESENTATION-INDEPENDENT — q153's exact
    * insert/update/delete lifecycle with deletion vectors enabled,
    * sharing q153's oracle: the stored feed of a DV-mode DELETE (whose
    * deleted rows still live in the hard-linked files) must be
    * row-identical to the copy-on-write feed, because feed derivation
    * reads snapshots through the DV-applying scan. */
  def q158DvChangeFeed(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs158")
    s.sql("CREATE TABLE graft.gate.docs158 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='doc_id', 'deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q158_docs_src")
    s.sql("INSERT INTO graft.gate.docs158 " +
      "SELECT doc_id, n_chars FROM q158_docs_src WHERE doc_id % 3 = 0")
    s.sql("UPDATE graft.gate.docs158 SET n_chars = n_chars + 7 " +
      "WHERE doc_id % 2 = 0")
    s.sql("DELETE FROM graft.gate.docs158 WHERE n_chars < 300")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs158")
    require(graft.operators.DeletionVectors.hasDvs(root.resolve("v=2")),
      "q158: the DELETE must have taken the deletion-vector path")
    Versioned.feedVersions(root.toString)
      .map(v => s.read.parquet(Versioned.feedDir(root.toString, v)))
      .reduce(_.unionByName(_))
      .orderBy(col("commit_version"), col("doc_id"))
  }

  /** q163: OPTIMIZE ZORDER BY — `sys.compact(zorder_by => 'a,b')`
    * rewrites the snapshot along a rank-quantized Morton curve
    * ([[graft.operators.Layout.zorderByRank]]), so the commit's stats
    * sidecar prunes files on EITHER filter dimension. The gate builds
    * the adversarial starting layout (linear clusterBy on doc_id —
    * perfect pruning on doc_id, none on n_chars), Z-orders, and
    * require()s the skipping arithmetic against the stats manifest
    * itself: pre-Z a mid-band n_chars filter refutes almost nothing;
    * post-Z both single-dimension bands and their box keep well under
    * the file count. The returned rows are layout-independent — the
    * oracle certifies the rewrite moved bytes, never rows. */
  def q163ZorderCompact(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs163")
    s.sql("CREATE TABLE graft.gate.docs163 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='doc_id', 'writePartitions'='16')")
    Tables.documents(s, dir).createOrReplaceTempView("q163_docs_src")
    s.sql("INSERT INTO graft.gate.docs163 SELECT doc_id, n_chars FROM q163_docs_src")
    // small target so the rewrite yields a multi-file layout at gate
    // scale — the 128 MB default would fold the whole table into one
    // file and leave nothing to measure
    s.sql("CALL graft.sys.compact(table => 'gate.docs163', " +
      "target_file_bytes => 2048, zorder_by => 'doc_id,n_chars')")

    import graft.operators.FileStats
    val root = scratchBase.resolve("catalog").resolve("gate").resolve("docs163")
    // the pruning metric, straight from the stats sidecar the scan
    // planner uses: expected files a uniform point probe on one column
    // touches = Σ file_span / domain_span. (A fixed band count is NOT
    // robust here — the Z-curve's quadrant boundaries sit at the rank
    // median, so a mid-band aligns with every file's box edge.)
    def expTouched(v: Long, c: String): (Double, Int) = {
      val st = FileStats.read(root.resolve(s"v=$v")).values.toSeq
      def lh(fs: FileStats.FileStat): (Long, Long) = fs.cols(c) match {
        case FileStats.ColStat(Some(FileStats.L(lo)), Some(FileStats.L(hi)), _) =>
          (lo, hi)
        case other => throw new IllegalStateException(
          s"q163: no long bounds for '$c' in stats sidecar: $other")
      }
      val (dLo, dHi) = (st.map(lh(_)._1).min, st.map(lh(_)._2).max)
      (st.map(fs => (lh(fs)._2 - lh(fs)._1).toDouble / (dHi - dLo)).sum, st.size)
    }
    val (preChars, preN) = expTouched(0, "n_chars")
    val (postChars, postN) = expTouched(1, "n_chars")
    val (postDoc, _) = expTouched(1, "doc_id")
    require(postN >= 4,
      s"q163: the Z-order rewrite must produce a multi-file layout to " +
        s"measure (got $postN files)")
    require(preChars >= preN * 0.85,
      s"q163: before Z-ordering, n_chars should be unprunable on a " +
        s"doc_id-clustered layout (expected-touched $preChars of $preN)")
    require(postChars <= postN * 0.7,
      s"q163: after Z-ordering, n_chars must prune " +
        s"(expected-touched $postChars of $postN)")
    require(postDoc <= postN * 0.7,
      s"q163: after Z-ordering, doc_id must STILL prune " +
        s"(expected-touched $postDoc of $postN)")
    s.sql("""SELECT doc_id, n_chars FROM graft.gate.docs163
             WHERE n_chars BETWEEN 250 AND 400 AND doc_id BETWEEN 100 AND 260
             ORDER BY doc_id""")
  }

  /** q164: BLOOM-FILTER POINT-LOOKUP SKIPPING — `bloomFilterColumns`
    * tables build per-file Bloom filters at commit, and the scan
    * refutes `key = v` probes min/max statistics cannot (the layout is
    * clustered on n_chars, so every file's [min, max] on doc_id spans
    * the whole domain). The gate require()s all three layers: the
    * stats layer keeps ~everything, the bloom layer keeps ~one file,
    * and the LIVE scan's explain marker shows the drop. The returned
    * point-lookup rows are layout-independent — the oracle certifies
    * skipping never changes answers. */
  def q164BloomPointLookup(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs164")
    s.sql("CREATE TABLE graft.gate.docs164 (doc_id BIGINT, n_chars BIGINT, lang STRING) " +
      "USING `graft-versioned` TBLPROPERTIES ('clusterBy'='n_chars', " +
      "'writePartitions'='12', 'bloomFilterColumns'='doc_id')")
    Tables.documents(s, dir).createOrReplaceTempView("q164_docs_src")
    s.sql("INSERT INTO graft.gate.docs164 " +
      "SELECT doc_id, n_chars, lang FROM q164_docs_src")
    import org.apache.spark.sql.sources.EqualTo
    import graft.operators.{BloomSidecar, FileStats}
    val vdir = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs164").resolve("v=0")
    val stats = FileStats.read(vdir)
    val statsKept = stats.values.count(FileStats.mayMatch(_, EqualTo("doc_id", 263L)))
    require(statsKept >= stats.size - 1,
      s"q164: min/max must be unable to prune a scattered key " +
        s"($statsKept/${stats.size} kept — the starting layout is wrong)")
    val (bloomKept, n) = BloomSidecar.survivors(vdir, EqualTo("doc_id", 263L))
    require(n >= 4, s"q164: need a multi-file layout to measure ($n files)")
    require(bloomKept <= math.max(2, n / 4),
      s"q164: the bloom layer must isolate the point lookup " +
        s"($bloomKept/$n kept)")
    // the ENGINE path, not just the helper: the snapshot scan's explain
    // marker must show the same drop
    val probe = s.sql("SELECT n_chars FROM graft.gate.docs164 WHERE doc_id = 263")
    probe.collect()
    val desc = probe.queryExecution.executedPlan.toString
    val m = "DataFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    require(m.isDefined, s"q164: no DataFiles marker in scan:\n$desc")
    require(m.get.group(1).toInt <= math.max(2, n / 4),
      s"q164: live scan read ${m.get.group(1)}/${m.get.group(2)} files:\n$desc")
    s.sql("""SELECT doc_id, n_chars, lang FROM graft.gate.docs164
             WHERE doc_id IN (41, 137, 263) ORDER BY doc_id""")
  }

  /** q165: INCREMENTAL OPTIMIZE (bin-packing) — `sys.compact(
    * only_smaller_than => …)` rewrites only the small-file tail a
    * sequence of append commits fragments; the clustered bulk
    * hard-links over under its own name (require()d), so cost is
    * O(tail), not O(table). The oracle certifies the packed snapshot
    * holds exactly the union of every insert's predicate — moving
    * bytes, never rows. */
  def q165BinPackCompact(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs165")
    s.sql("CREATE TABLE graft.gate.docs165 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='doc_id', 'writePartitions'='1')")
    Tables.documents(s, dir).createOrReplaceTempView("q165_docs_src")
    s.sql("INSERT INTO graft.gate.docs165 " +
      "SELECT doc_id, n_chars FROM q165_docs_src WHERE doc_id % 3 = 0")
    Seq(1, 4, 7).foreach { r =>
      s.sql("INSERT INTO graft.gate.docs165 " +
        s"SELECT doc_id, n_chars FROM q165_docs_src WHERE doc_id % 9 = $r")
    }
    val root = scratchBase.resolve("catalog").resolve("gate").resolve("docs165")
    def names(v: Long) = Versioned.dataFiles(root.resolve(s"v=$v"))
      .map(_.getFileName.toString)
    require(names(3L).size == 4, s"q165: expected 4 files, got ${names(3L)}")
    // scale-independent threshold: the bulk file's own size — every
    // strictly smaller file is tail, the bulk itself survives
    val bulk = Versioned.dataFiles(root.resolve("v=3"))
      .maxBy(java.nio.file.Files.size)
    val thr = java.nio.file.Files.size(bulk)
    s.sql("CALL graft.sys.compact(table => 'gate.docs165', " +
      s"target_file_bytes => 1048576, only_smaller_than => $thr)")
    val post = names(4L)
    require(post.contains(bulk.getFileName.toString),
      "q165: the bulk file must hard-link over, not rewrite")
    require(post.size == 2,
      s"q165: the three tail files must pack into one, got $post")
    s.sql("""SELECT doc_id, n_chars FROM graft.gate.docs165
             ORDER BY doc_id""")
  }

  /** q167: CONVERT in place (Delta's `CONVERT TO DELTA`) — an existing
    * directory of plain parquet files becomes v=0 of a named versioned
    * table with ZERO data rewrite: O(files) footer reads build the
    * stats sidecar, hard links register the bytes (require()d at the
    * inode level — a copy would be an O(data) onboarding), and the
    * converted table is immediately a first-class citizen: the gate
    * runs a real SQL DELETE against it (a new CoW commit over linked
    * v=0 files) and returns the survivors. The oracle re-derives the
    * final state from the write + delete predicates alone, so a hash
    * match certifies the conversion changed nothing and the converted
    * table mutates correctly. */
  def q167ConvertInPlace(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs167")
    val srcDir = scratchBase.resolve("q167_convert_src")
    Versioned.deleteRecursively(srcDir)
    Tables.documents(s, dir)
      .where("doc_id % 4 = 1")
      .selectExpr("doc_id", "lang", "n_chars")
      .repartition(3)
      .write.parquet(srcDir.toString)
    s.sql(s"CALL graft.sys.convert(source_dir => '$srcDir', " +
      "target => 'gate.docs167')")
    val root = scratchBase.resolve("catalog").resolve("gate").resolve("docs167")
    def inode(p: java.nio.file.Path): Any =
      java.nio.file.Files.getAttribute(p, "unix:ino")
    val srcInodes = Versioned.listParquet(srcDir).map(inode).toSet
    Versioned.dataFiles(root.resolve("v=0")).foreach { f =>
      require(srcInodes.contains(inode(f)),
        s"q167: converted file $f must be a hard link of a source file " +
          "(same inode) — a copy would make conversion O(data)")
    }
    // the converted table is a full citizen: SQL DELETE commits v=1
    s.sql("DELETE FROM graft.gate.docs167 WHERE n_chars < 300")
    require(Versioned.latestVersion(root.toString).contains(1L),
      "q167: the DELETE must commit v=1 on the converted table")
    s.sql("""SELECT doc_id, lang, n_chars FROM graft.gate.docs167
             ORDER BY doc_id""")
  }

  /** q166: PROTOCOL reader-feature flags — the Delta `readerFeatures`
    * contract: commits that change what a correct read IS flag the
    * table (`_graft_protocol`), and a build missing a flagged feature
    * refuses the table loudly instead of silently serving wrong rows
    * (deleted rows resurrected by an unapplied DV, stale names from a
    * bypassed column mapping). The lifecycle earns both shipped flags
    * (a DV DELETE, then a RENAME), require()s them on disk, plants an
    * unknown future feature and require()s the read fails NAMING it,
    * un-plants, and returns the final state; the oracle re-derives
    * that state from the predicates alone — protocol enforcement must
    * never change surviving rows. */
  def q166ProtocolFlags(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs166")
    s.sql("CREATE TABLE graft.gate.docs166 (doc_id BIGINT, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q166_docs_src")
    s.sql("INSERT INTO graft.gate.docs166 " +
      "SELECT doc_id, n_chars FROM q166_docs_src WHERE doc_id % 3 = 2")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs166").toString
    require(Versioned.readerFeatures(root).isEmpty,
      "q166: a plain append must not flag any reader feature")
    s.sql("DELETE FROM graft.gate.docs166 WHERE n_chars < 500")
    require(Versioned.readerFeatures(root) == Set("deletion-vectors"),
      "q166: a DV-mode DELETE must flag deletion-vectors")
    s.sql("ALTER TABLE graft.gate.docs166 RENAME COLUMN n_chars TO chars")
    require(Versioned.readerFeatures(root) ==
        Set("deletion-vectors", "column-mapping"),
      "q166: RENAME COLUMN must flag column-mapping")
    // a future build's feature: this build must refuse, naming it
    val pf = java.nio.file.Paths.get(root, "_graft_protocol")
    val saved = java.nio.file.Files.readAllBytes(pf)
    java.nio.file.Files.write(pf,
      "reader future-rle-pages".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val refused =
      try { s.sql("SELECT count(*) FROM graft.gate.docs166").collect(); None }
      catch { case e: Exception => Some(e.getMessage) }
    require(refused.exists(_.contains("future-rle-pages")),
      s"q166: unknown required feature must fail the read naming it, got $refused")
    java.nio.file.Files.write(pf, saved)
    s.sql("SELECT doc_id, chars FROM graft.gate.docs166 ORDER BY doc_id")
  }

  /** q160: MERGE-ON-READ UPDATE (delta row-level operation) — q150's
    * exact UPDATE lifecycle on a `deletionVectors=true` table, sharing
    * q150's predicate-derived oracle: representation changes (DV
    * sidecars + an insert file instead of file rewrites — require()d:
    * every pre-update data file carries into v=1 under its own name),
    * rows never do. */
  def q160DvUpdate(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs160")
    s.sql("CREATE TABLE graft.gate.docs160 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q160_docs_src")
    s.sql("INSERT INTO graft.gate.docs160 " +
      "SELECT doc_id, lang, n_chars FROM q160_docs_src WHERE doc_id % 3 = 0")
    s.sql("UPDATE graft.gate.docs160 SET n_chars = n_chars + 1000 " +
      "WHERE doc_id % 2 = 0 AND n_chars >= 200")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs160")
    def names(v: String) = Versioned.dataFiles(root.resolve(v))
      .map(_.getFileName.toString).toSet
    require(names("v=0").subsetOf(names("v=1")),
      "q160: a merge-on-read UPDATE must carry every data file, not rewrite")
    require(graft.operators.DeletionVectors.hasDvs(root.resolve("v=1")),
      "q160: the UPDATE commit must carry deletion-vector sidecars")
    s.sql("""SELECT 'pre' AS snap, doc_id, n_chars
             FROM graft.gate.docs160 VERSION AS OF 0
             UNION ALL
             SELECT 'post' AS snap, doc_id, n_chars FROM graft.gate.docs160
             ORDER BY snap, doc_id""")
  }

  /** q161: MERGE-ON-READ MERGE INTO — q151's exact three-clause MERGE
    * on a `deletionVectors=true` table, sharing q151's oracle: matched
    * updates become DV'd positions + inserted rows, not-matched
    * inserts land in fresh files, not-matched-by-source deletes become
    * DV positions — and no pre-merge file is ever rewritten
    * (require()d). */
  def q161DvMerge(s: SparkSession, dir: String): DataFrame = {
    ensureCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft.gate.docs161")
    s.sql("CREATE TABLE graft.gate.docs161 (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    Tables.documents(s, dir).createOrReplaceTempView("q161_docs_src")
    s.sql("INSERT INTO graft.gate.docs161 " +
      "SELECT doc_id, lang, n_chars FROM q161_docs_src WHERE doc_id % 3 = 0")
    s.sql("""MERGE INTO graft.gate.docs161 t
             USING (SELECT doc_id, lang, n_chars FROM q161_docs_src
                    WHERE doc_id % 2 = 0) s
             ON t.doc_id = s.doc_id
             WHEN MATCHED AND s.n_chars > 500 THEN
               UPDATE SET n_chars = s.n_chars + 5
             WHEN NOT MATCHED THEN
               INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.n_chars)
             WHEN NOT MATCHED BY SOURCE AND t.n_chars < 300 THEN
               DELETE""")
    val root = scratchBase.resolve("catalog").resolve("gate")
      .resolve("docs161")
    def names(v: String) = Versioned.dataFiles(root.resolve(v))
      .map(_.getFileName.toString).toSet
    require(names("v=0").subsetOf(names("v=1")),
      "q161: a merge-on-read MERGE must carry every data file, not rewrite")
    require(graft.operators.DeletionVectors.hasDvs(root.resolve("v=1")),
      "q161: the MERGE commit must carry deletion-vector sidecars")
    s.sql("""SELECT 'pre' AS snap, doc_id, n_chars
             FROM graft.gate.docs161 VERSION AS OF 0
             UNION ALL
             SELECT 'post' AS snap, doc_id, n_chars FROM graft.gate.docs161
             ORDER BY snap, doc_id""")
  }

  private lazy val StreamWriteSrc = scratchBase.resolve("q146_src").toString
  private lazy val StreamWriteDst = scratchBase.resolve("q146_dst").toString

  /** q146: the full streaming loop over the store — a stored change
    * feed ([[Versioned.writeNextWithFeed]], q141's exact v0/v1 data) is
    * drained by `readStream`, the surviving (non-removed) rows stream
    * into a SECOND versioned root through the DSv2 STREAMING WRITE
    * (epoch commit = atomic version publish, epoch-tagged for
    * replay idempotence), and the result is the destination snapshot
    * read back. CDF in, versioned table out — the incremental-pipeline
    * shape — certified against an oracle that recomputes the surviving
    * diff rows relationally. */
  def q146StreamWriteVersions(s: SparkSession, dir: String): DataFrame = {
    Versioned.deleteRecursively(java.nio.file.Paths.get(StreamWriteSrc))
    Versioned.deleteRecursively(java.nio.file.Paths.get(StreamWriteDst))
    val base = Tables.documents(s, dir).select(col("doc_id"),
      (col("n_chars") * 1000L).cast(LongType).as("price"))
    val v0 = base.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val v1 = base.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("price", col("price") +
        when(pmod(col("doc_id"), lit(3)) === 0, 7L).otherwise(0L))
    Versioned.writeNextWithFeed(v0, StreamWriteSrc, Seq("doc_id"), Seq("price"))
    Versioned.writeNextWithFeed(v1, StreamWriteSrc, Seq("doc_id"), Seq("price"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_q146_ckpt_").toString
    s.readStream.format("graft-versioned")
      .option("changeFeed", "true").load(StreamWriteSrc)
      .filter(col("change_type") =!= "removed")
      .select(col("doc_id"), col("new_price").as("price"), col("commit_version"))
      .writeStream.format("graft-versioned")
      .option("path", StreamWriteDst).option("create", "true")
      .option("commitTs", "1000")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    Versioned.read(s, StreamWriteDst).orderBy("commit_version", "doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q140_dsv2_time_travel" -> (q140Dsv2TimeTravel _),
    "q141_dsv2_change_feed" -> (q141Dsv2ChangeFeed _),
    "q168_batch_change_feed" -> (q168BatchChangeFeed _),
    "q169_version_tags" -> (q169VersionTags _),
    "q170_ivm_from_cdf" -> (q170IvmFromCdf _),
    "q178_streaming_ivm" -> (q178StreamingIvm _),
    "q183_merge_ivm" -> (q183MergeIvm _),
    "q184_partitioned_ddl" -> (q184PartitionedDdl _),
    "q186_optimize_where" -> (q186OptimizeWhere _),
    "q187_ndv_broadcast" -> (q187NdvBroadcast _),
    "q188_spj" -> (q188StoragePartitionedJoin _),
    "q189_purge_rows" -> (q189PurgeRows _),
    "q190_bucket_spj" -> (q190BucketSpj _),
    "q191_temporal_ddl" -> (q191TemporalDdl _),
    "q192_partition_evolution" -> (q192PartitionEvolution _),
    "q193_row_tracking" -> (q193RowTracking _),
    "q194_price_train_smoke" -> (q194PriceTrainSmoke _),
    "q195_truncate_ddl" -> (q195TruncateDdl _),
    "q196_stream_partitioned" -> (q196StreamPartitioned _),
    "q197_minmax_ivm" -> (q197MinMaxIvm _),
    "q198_fsck" -> (q198Fsck _),
    "q201_variant_ingest" -> (q201VariantIngest _),
    "q179_type_widening" -> (q179TypeWidening _),
    "q180_generated_identity" -> (q180GeneratedIdentity _),
    "q181_default_values" -> (q181DefaultValues _),
    "q182_replace_history" -> (q182ReplaceHistory _),
    "q171_corpus_release" -> (q171CorpusRelease _),
    "q172_manifest_export" -> (q172ManifestExport _),
    "q173_append_only" -> (q173AppendOnly _),
    "q174_age_retention" -> (q174AgeRetention _),
    "q175_checkpoint_travel" -> (q175CheckpointTravel _),
    "q176_evolve_append" -> (q176EvolveAppend _),
    "q177_merge_evolution" -> (q177MergeEvolution _),
    "q144_catalog_sql" -> (q144CatalogSql _),
    "q145_catalog_time_travel" -> (q145CatalogTimeTravel _),
    "q146_stream_write_versions" -> (q146StreamWriteVersions _),
    "q147_sql_maintenance" -> (q147SqlMaintenance _),
    "q149_sql_delete" -> (q149SqlDelete _),
    "q150_sql_update" -> (q150SqlUpdate _),
    "q151_merge_into" -> (q151MergeInto _),
    "q152_schema_evolution" -> (q152SchemaEvolution _),
    "q153_catalog_change_feed" -> (q153CatalogChangeFeed _),
    "q154_restore_clone" -> (q154RestoreClone _),
    "q155_check_constraints" -> (q155CheckConstraints _),
    "q156_dv_delete" -> (q156DvDelete _),
    "q157_column_mapping" -> (q157ColumnMapping _),
    "q158_dv_change_feed" -> (q158DvChangeFeed _),
    "q159_throttled_change_feed" -> (q159ThrottledChangeFeed _),
    "q162_stream_table_read" -> (q162StreamTableRead _),
    "q160_dv_update" -> (q160DvUpdate _),
    "q161_dv_merge" -> (q161DvMerge _),
    "q163_zorder_compact" -> (q163ZorderCompact _),
    "q164_bloom_point_lookup" -> (q164BloomPointLookup _),
    "q165_binpack_compact" -> (q165BinPackCompact _),
    "q166_protocol_flags" -> (q166ProtocolFlags _),
    "q167_convert_in_place" -> (q167ConvertInPlace _),
    "q63_versioned_load" -> (q63VersionedLoad _),
    "q67_csv_swap" -> (q67CsvSwap _),
    "q120_version_change_feed" -> (q120VersionChangeFeed _),
    "q130_compact_versions" -> (q130CompactVersions _),
    "q131_time_travel" -> (q131TimeTravel _))

  val oracles: Map[String, String] = Map(
    // q147: the SQL maintenance dance is data-lossless — the surviving
    // compacted version holds exactly the two inserts' union
    "q147_sql_maintenance" ->
      """SELECT lang, cast(count(*) as bigint) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM documents WHERE doc_id % 4 IN (0, 1)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q149: pre = the insert predicate; post = insert minus the delete
    "q149_sql_delete" ->
      """SELECT 'pre' AS snap, lang, cast(count(*) as bigint) AS n_docs
        |FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
        |UNION ALL
        |SELECT 'post' AS snap, lang, cast(count(*) as bigint) AS n_docs
        |FROM documents
        |WHERE doc_id % 3 = 0 AND NOT (n_chars < 400 OR doc_id < 60)
        |GROUP BY lang
        |ORDER BY snap, lang""".stripMargin,
    // q150: pre = the insert predicate; post = same rows with the SET
    // clause mirrored as a CASE under the UPDATE condition
    "q150_sql_update" ->
      """SELECT 'pre' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 'post' AS snap, doc_id,
        |  CASE WHEN doc_id % 2 = 0 AND n_chars >= 200
        |       THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY snap, doc_id""".stripMargin,
    // q151: pre = the insert predicate; post = the three merge
    // populations — matched (%6=0, guarded update), source-only
    // (insert), target-only (guarded delete)
    "q151_merge_into" ->
      """SELECT 'pre' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 'post' AS snap, doc_id, n_chars FROM (
        |  SELECT doc_id,
        |    CASE WHEN n_chars > 500 THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, n_chars FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0 AND n_chars >= 300
        |)
        |ORDER BY snap, doc_id""".stripMargin,
    // q152: pre-evolution rows (%3=0) get 'none'/'?' by parity; the
    // post-evolution insert (%3=1) keeps its real lang
    "q152_schema_evolution" ->
      """SELECT doc_id, n_chars,
        |  CASE WHEN doc_id % 2 = 0 THEN 'none' ELSE '?' END AS lang
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 3 = 1
        |ORDER BY doc_id""".stripMargin,
    // q153: feed v0 = the insert (all added), v1 = the UPDATE's evens
    // (old/new n_chars), v2 = the DELETE's sub-300 rows against the
    // UPDATED values
    "q153_catalog_change_feed" ->
      """WITH base AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
        |upd AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |  FROM base)
        |SELECT doc_id, 'added' AS change_type,
        |  CAST(0 AS BIGINT) AS commit_version,
        |  CAST(NULL AS BIGINT) AS old_n_chars, n_chars AS new_n_chars
        |FROM base
        |UNION ALL
        |SELECT b.doc_id, 'changed', 1, b.n_chars, u.n_chars
        |FROM base b JOIN upd u USING (doc_id) WHERE b.doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'removed', 2, n_chars, NULL
        |FROM upd WHERE n_chars < 300
        |ORDER BY commit_version, doc_id""".stripMargin,
    // q154: restored = the first insert predicate (as a NEW commit);
    // the overwrite stays addressable; the clone equals the restored
    "q154_restore_clone" ->
      """SELECT 'clone' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT 'overwrite' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 'restored' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY snap, doc_id""".stripMargin,
    // q155: only the conforming insert survives — the violating one
    // aborts atomically, so the final state IS the conforming predicate
    "q155_check_constraints" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 3 = 0 AND n_chars >= 300
        |ORDER BY doc_id""".stripMargin,
    // q156 shares q149's oracle verbatim: merge-on-read DELETE must be
    // row-identical to copy-on-write DELETE
    "q156_dv_delete" ->
      """SELECT 'pre' AS snap, lang, cast(count(*) as bigint) AS n_docs
        |FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
        |UNION ALL
        |SELECT 'post' AS snap, lang, cast(count(*) as bigint) AS n_docs
        |FROM documents
        |WHERE doc_id % 3 = 0 AND NOT (n_chars < 400 OR doc_id < 60)
        |GROUP BY lang
        |ORDER BY snap, lang""".stripMargin,
    // q157: the final state after rename/drop/mixed-file UPDATE — the
    // union of both insert predicates with the SET clause mirrored
    "q157_column_mapping" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN n_chars + 1000
        |       ELSE n_chars END AS chars
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |ORDER BY doc_id""".stripMargin,
    // q166: the final state is independent of the protocol dance — the
    // insert predicate minus the delete predicate, renamed column
    "q166_protocol_flags" ->
      """SELECT doc_id, n_chars AS chars
        |FROM documents
        |WHERE doc_id % 3 = 2 AND n_chars >= 500
        |ORDER BY doc_id""".stripMargin,
    // q167: the converted-then-deleted state is the write predicate
    // minus the delete predicate — conversion itself must be lossless
    "q167_convert_in_place" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE doc_id % 4 = 1 AND n_chars >= 300
        |ORDER BY doc_id""".stripMargin,
    // q160 shares q150's oracle verbatim: merge-on-read UPDATE must be
    // row-identical to copy-on-write UPDATE
    "q160_dv_update" ->
      """SELECT 'pre' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 'post' AS snap, doc_id,
        |  CASE WHEN doc_id % 2 = 0 AND n_chars >= 200
        |       THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY snap, doc_id""".stripMargin,
    // q161 shares q151's oracle verbatim: merge-on-read MERGE must be
    // row-identical to copy-on-write MERGE
    "q161_dv_merge" ->
      """SELECT 'pre' AS snap, doc_id, n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 'post' AS snap, doc_id, n_chars FROM (
        |  SELECT doc_id,
        |    CASE WHEN n_chars > 500 THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, n_chars FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0 AND n_chars >= 300
        |)
        |ORDER BY snap, doc_id""".stripMargin,
    // q158 shares q153's oracle verbatim: the stored feed of a DV-mode
    // DELETE equals the copy-on-write feed
    "q158_dv_change_feed" ->
      """WITH base AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
        |upd AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |  FROM base)
        |SELECT doc_id, 'added' AS change_type,
        |  CAST(0 AS BIGINT) AS commit_version,
        |  CAST(NULL AS BIGINT) AS old_n_chars, n_chars AS new_n_chars
        |FROM base
        |UNION ALL
        |SELECT b.doc_id, 'changed', 1, b.n_chars, u.n_chars
        |FROM base b JOIN upd u USING (doc_id) WHERE b.doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'removed', 2, n_chars, NULL
        |FROM upd WHERE n_chars < 300
        |ORDER BY commit_version, doc_id""".stripMargin,
    // q144: two append commits = the union of the two insert predicates
    "q144_catalog_sql" ->
      """SELECT lang, cast(count(*) as bigint) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q145: v0 = first insert's predicate; current = the overwrite's
    "q145_catalog_time_travel" ->
      """SELECT 'v0' AS snap, doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'cur' AS snap, doc_id, n_chars FROM documents WHERE doc_id % 7 = 0
        |ORDER BY snap, doc_id""".stripMargin,
    // q146: the non-removed rows of both stored feeds — v0 all-'added'
    // (new_price = price), v1 added (in v1 only) + changed (price moved)
    "q146_stream_write_versions" ->
      """WITH b AS (SELECT doc_id, n_chars * 1000 price FROM documents),
        |v0 AS (SELECT * FROM b WHERE doc_id % 5 <> 0),
        |v1 AS (SELECT doc_id, price +
        |         CASE WHEN doc_id % 3 = 0 THEN 7 ELSE 0 END price
        |       FROM b WHERE doc_id % 4 <> 0)
        |SELECT doc_id, price, cast(0 as bigint) AS commit_version FROM v0
        |UNION ALL
        |SELECT v1.doc_id, v1.price, cast(1 as bigint) AS commit_version
        |FROM v1 LEFT JOIN v0 ON v1.doc_id = v0.doc_id
        |WHERE v0.doc_id IS NULL OR v0.price IS DISTINCT FROM v1.price
        |ORDER BY commit_version, doc_id""".stripMargin,
    // q140 shares q131's expectation: as-of 2500 resolves stamp 2000
    "q140_dsv2_time_travel" ->
      """SELECT doc_id, cast(n_chars * 1000 + 10 as bigint) price
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q162: snapshot-then-append streaming of the table itself — the
    // three INSERT slices partition doc_id mod 3, so the accumulated
    // sink must be every document exactly once
    "q162_stream_table_read" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",
    // q163: OPTIMIZE ZORDER BY moves bytes, never rows — the box query
    // over the Z-ordered snapshot equals the same predicate on the
    // source table (the gate itself require()s the skipping arithmetic)
    "q163_zorder_compact" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars BETWEEN 250 AND 400 AND doc_id BETWEEN 100 AND 260
        |ORDER BY doc_id""".stripMargin,
    // q164: bloom skipping moves I/O, never rows — the point lookups
    // over the bloom-indexed table equal the same predicate on the
    // source (the gate itself require()s the three-layer skipping)
    "q164_bloom_point_lookup" ->
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id IN (41, 137, 263) ORDER BY doc_id""".stripMargin,
    // q165: bin-packing moves bytes, never rows — the packed snapshot
    // is the union of every insert's predicate (the gate require()s
    // the bulk file carried and the tail merged)
    "q165_binpack_compact" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 3 = 0 OR doc_id % 9 IN (1, 4, 7)
        |ORDER BY doc_id""".stripMargin,
    // q159 shares q141/q120's batch-diff expectation: throttling the
    // drain into one-commit batches must not change a single row
    "q159_throttled_change_feed" ->
      """WITH b AS (SELECT doc_id, n_chars * 1000 price FROM documents),
        |v0 AS (SELECT * FROM b WHERE doc_id % 5 <> 0),
        |v1 AS (SELECT doc_id, price +
        |         CASE WHEN doc_id % 3 = 0 THEN 7 ELSE 0 END price
        |       FROM b WHERE doc_id % 4 <> 0),
        |j AS (SELECT coalesce(v0.doc_id, v1.doc_id) doc_id,
        |        v0.price old_price, v1.price new_price,
        |        v0.doc_id k0, v1.doc_id k1
        |      FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
        |SELECT doc_id,
        |  CASE WHEN k0 IS NULL THEN 'added'
        |       WHEN k1 IS NULL THEN 'removed'
        |       ELSE 'changed' END change_type,
        |  old_price, new_price
        |FROM j
        |WHERE k0 IS NULL OR k1 IS NULL
        |   OR old_price IS DISTINCT FROM new_price
        |ORDER BY doc_id""".stripMargin,
    // q141 shares q120's batch-diff expectation
    // q172: the external reader's view of the exported manifest must
    // equal the insert-minus-delete predicates
    "q172_manifest_export" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 5 = 3 AND n_chars >= 350
        |ORDER BY doc_id""".stripMargin,
    // q171: the release re-derived from first principles — filter,
    // dedup (min doc_id per text), hash split; the post-tag mutations
    // must be invisible to the named read
    "q171_corpus_release" ->
      """WITH q AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE n_chars BETWEEN 120 AND 2500),
        |d AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
        |  FROM q)
        |SELECT doc_id,
        |  CASE WHEN (doc_id * 2654435761) % 1000003 < 800003
        |       THEN 'train' ELSE 'val' END AS split,
        |  n_chars
        |FROM d WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    // q170: increment ≡ recompute — the final aggregate re-derived by
    // replaying the predicates sequentially, never reading the feed
    "q170_ivm_from_cdf" ->
      """WITH v0 AS (
        |  SELECT doc_id, doc_id % 7 grp, n_chars chars FROM documents
        |  WHERE doc_id % 2 = 0),
        |v1 AS (
        |  SELECT doc_id, grp,
        |    CASE WHEN doc_id % 10 = 0 THEN chars + 10 ELSE chars END chars
        |  FROM v0),
        |v2 AS (SELECT * FROM v1 WHERE chars >= 400),
        |v3 AS (
        |  SELECT * FROM v2
        |  UNION ALL
        |  SELECT doc_id, doc_id % 7, n_chars FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 3 = 0)
        |SELECT grp, count(*) AS n, cast(sum(chars) as bigint) AS sum_chars
        |FROM v3 GROUP BY grp ORDER BY grp""".stripMargin,
    // q178: the streaming twin shares q170's oracle verbatim — batch
    // slicing, checkpoint resume and txn-idempotent state commits must
    // all be invisible in the materialized rows
    "q178_streaming_ivm" ->
      """WITH v0 AS (
        |  SELECT doc_id, doc_id % 7 grp, n_chars chars FROM documents
        |  WHERE doc_id % 2 = 0),
        |v1 AS (
        |  SELECT doc_id, grp,
        |    CASE WHEN doc_id % 10 = 0 THEN chars + 10 ELSE chars END chars
        |  FROM v0),
        |v2 AS (SELECT * FROM v1 WHERE chars >= 400),
        |v3 AS (
        |  SELECT * FROM v2
        |  UNION ALL
        |  SELECT doc_id, doc_id % 7, n_chars FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 3 = 0)
        |SELECT grp, count(*) AS n, cast(sum(chars) as bigint) AS sum_chars
        |FROM v3 GROUP BY grp ORDER BY grp""".stripMargin,
    // q183: the O(changed groups) MERGE fold shares the oracle
    // verbatim — merge-on-read state, DV'd group updates, hard-linked
    // carries, batch slicing, replay and the net-zero one-group tail
    // batch must all be invisible in the materialized rows
    "q183_merge_ivm" ->
      """WITH v0 AS (
        |  SELECT doc_id, doc_id % 7 grp, n_chars chars FROM documents
        |  WHERE doc_id % 2 = 0),
        |v1 AS (
        |  SELECT doc_id, grp,
        |    CASE WHEN doc_id % 10 = 0 THEN chars + 10 ELSE chars END chars
        |  FROM v0),
        |v2 AS (SELECT * FROM v1 WHERE chars >= 400),
        |v3 AS (
        |  SELECT * FROM v2
        |  UNION ALL
        |  SELECT doc_id, doc_id % 7, n_chars FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 3 = 0)
        |SELECT grp, count(*) AS n, cast(sum(chars) as bigint) AS sum_chars
        |FROM v3 GROUP BY grp ORDER BY grp""".stripMargin,
    // q184: partition-predicate rows are layout-independent — pruning
    // (require()d in-gate via the DataFiles marker) never changes them
    "q184_partitioned_ddl" ->
      """SELECT CAST(doc_id % 7 AS BIGINT) AS grp, doc_id, n_chars
        |FROM documents WHERE doc_id % 7 = 3
        |ORDER BY doc_id""".stripMargin,
    // q186: predicate-scoped OPTIMIZE is maintenance — rows invariant
    // (inode carry + stats-selection require()d in-gate)
    "q186_optimize_where" ->
      """SELECT CAST(doc_id % 4 AS BIGINT) AS grp, doc_id, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q187: NDV-steered join strategy is row-invariant — the planner
    // differential is require()d in-gate on the live plans
    "q187_ndv_broadcast" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 50 = 7 ORDER BY doc_id""".stripMargin,
    // q188: the exchange-free co-partitioned join is row-invariant —
    // b ⊂ a at the even doc_ids, same grp derivation on both sides
    "q188_spj" ->
      """SELECT doc_id, n_chars, n_chars AS n2 FROM documents
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    // q190: the exchange-free co-bucketed join is row-invariant —
    // b ⊂ a at the even doc_ids (the zero-exchange plan proof lives
    // in-gate)
    "q190_bucket_spj" ->
      """SELECT doc_id, n_chars, n_chars AS n2 FROM documents
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    // q191: the two-day time-range slice re-derived relationally in
    // epoch-ns space (the prune proof lives in-gate)
    "q191_temporal_ddl" ->
      """SELECT event_id, epoch_ns(ts) AS ts_ns, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-07 00:00:00'
        |ORDER BY event_id""".stripMargin,
    // q192: rows are partition-evolution-invariant — the final table is
    // just documents re-keyed (soundness/pin/prune proofs live in-gate)
    "q192_partition_evolution" ->
      """SELECT doc_id, doc_id % 4 AS grp, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // q193: the lifecycle's final CONTENT re-derived from the
    // predicates (inserted slices → MoR delete → MoR update); the
    // id-stability invariants are engine facts, require()d in-gate
    "q193_row_tracking" ->
      """SELECT doc_id, lang,
        |  n_chars + (CASE WHEN doc_id % 10 = 7 THEN 1000 ELSE 0 END)
        |    AS n_chars
        |FROM documents
        |WHERE doc_id % 3 < 2 AND n_chars >= 300
        |ORDER BY doc_id""".stripMargin,
    // q201: extraction must invert ingestion — the oracle reads the
    // same fields straight off the parquet
    "q201_variant_ingest" ->
      """SELECT doc_id, lang, source, cast(n_chars as bigint) n_chars
        |FROM documents WHERE source IN ('src3', 'src7')
        |ORDER BY doc_id""".stripMargin,
    // q198: the all-clean fsck report is a CONSTANT of the 3-commit
    // lifecycle — every check row hash-compared (detection cases live
    // in GraftCatalogSpec with planted corruption)
    "q198_fsck" ->
      ("""SELECT * FROM (VALUES
        |  (CAST(-1 AS BIGINT), 'latest-hint', CAST(0 AS BIGINT), ''),
        |  (-1, 'staging-leftovers', 0, ''),
        |  (0, 'manifest-data-files', 0, ''),
        |  (0, 'manifest-dv-files', 0, ''),
        |  (0, 'stats-coverage', 0, ''),
        |  (0, 'unlisted-files', 0, ''),
        |  (1, 'manifest-data-files', 0, ''),
        |  (1, 'manifest-dv-files', 0, ''),
        |  (1, 'stats-coverage', 0, ''),
        |  (1, 'unlisted-files', 0, ''),
        |  (2, 'manifest-data-files', 0, ''),
        |  (2, 'manifest-dv-files', 0, ''),
        |  (2, 'stats-coverage', 0, ''),
        |  (2, 'unlisted-files', 0, '')
        |) t(version, "check", n_bad, detail)
        |ORDER BY version, "check"""").stripMargin,
    // q197: the maintained min/max/count per group re-derived from the
    // predicates alone (dirty-group recompute semantics; inode and
    // recompute-equality proofs live in-gate)
    "q197_minmax_ivm" ->
      ("""WITH v1 AS (
        |  SELECT doc_id, doc_id % 9 AS k,
        |    CASE WHEN doc_id % 5 = 0 THEN n_chars - 200
        |         ELSE n_chars END AS v
        |  FROM documents
        |  WHERE doc_id % 9 <> 3 AND doc_id % 11 <> 0)
        |SELECT k, cast(min(v) as bigint) mn, cast(max(v) as bigint) mx,
        |  cast(count(*) as bigint) n
        |FROM v1 GROUP BY k ORDER BY k""").stripMargin,
    // q196: the streamed two-day range re-derived from the events
    // parquet (pin + prune proofs live in-gate; transport-invariant)
    "q196_stream_partitioned" ->
      """SELECT event_id, epoch_ns(ts) AS ts_ns, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id""".stripMargin,
    // q195: the co-truncated join's rows re-derived relationally (the
    // layout-independence convention: prune + SPJ proofs live in-gate)
    "q195_truncate_ddl" ->
      """SELECT a.doc_id, a.n_chars, b.n_chars AS n2
        |FROM documents a JOIN documents b ON a.doc_id = b.doc_id
        |WHERE b.doc_id % 2 = 0 ORDER BY a.doc_id""".stripMargin,
    // q194: the closed-form least-squares fit re-derived bit-for-bit —
    // exact BIGINT cross moments over the SAME deterministic feed, the
    // SAME textually-mirrored Cramer determinants in doubles, the SAME
    // single micro-quantization, then the smoke prediction in exact
    // integer arithmetic. Any drift in the trainer, the rollback (a
    // fit on the poisoned v1 would produce different sums), or the
    // quantization shifts the hash.
    "q194_price_train_smoke" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    50 + doc_id % 150 AS area,
        |    (doc_id // 150) % 5 AS rooms,
        |    250*(50 + doc_id % 150) + 1500*((doc_id // 150) % 5)
        |      + 3000 + doc_id % 7 AS price_m
        |  FROM documents),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) nn,
        |    CAST(cast(sum(area) AS BIGINT) AS DOUBLE) sa,
        |    CAST(cast(sum(rooms) AS BIGINT) AS DOUBLE) sr,
        |    CAST(cast(sum(area*area) AS BIGINT) AS DOUBLE) saa,
        |    CAST(cast(sum(area*rooms) AS BIGINT) AS DOUBLE) sar,
        |    CAST(cast(sum(rooms*rooms) AS BIGINT) AS DOUBLE) srr,
        |    CAST(cast(sum(area*price_m) AS BIGINT) AS DOUBLE) sap,
        |    CAST(cast(sum(rooms*price_m) AS BIGINT) AS DOUBLE) srp,
        |    CAST(cast(sum(price_m) AS BIGINT) AS DOUBLE) sp
        |  FROM f),
        |d AS (
        |  SELECT
        |    saa*(srr*nn - sr*sr) - sar*(sar*nn - sr*sa)
        |      + sa*(sar*sr - srr*sa) AS det,
        |    sap*(srr*nn - sr*sr) - sar*(srp*nn - sr*sp)
        |      + sa*(srp*sr - srr*sp) AS det1,
        |    saa*(srp*nn - sr*sp) - sap*(sar*nn - sr*sa)
        |      + sa*(sar*sp - srp*sa) AS det2,
        |    saa*(srr*sp - srp*sr) - sar*(sar*sp - srp*sa)
        |      + sap*(sar*sr - srr*sa) AS det3
        |  FROM m)
        |SELECT
        |  CAST(floor(1e6 * det1 / det + 0.5) AS BIGINT) AS wa_e6,
        |  CAST(floor(1e6 * det2 / det + 0.5) AS BIGINT) AS wr_e6,
        |  CAST(floor(1e6 * det3 / det + 0.5) AS BIGINT) AS b_e6,
        |  CAST(floor(1e6 * det1 / det + 0.5) AS BIGINT) * 100 +
        |    CAST(floor(1e6 * det3 / det + 0.5) AS BIGINT) AS total_price
        |FROM d""".stripMargin,
    // q189: the post-purge final content re-derived relationally — the
    // purge predicate applied on top of the CoW predicate chain
    // (per-version absence + invariance + inode proofs live in-gate)
    "q189_purge_rows" ->
      """WITH v0 AS (SELECT doc_id, doc_id % 4 grp, n_chars FROM documents),
        |v1 AS (SELECT doc_id, grp,
        |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 5
        |              ELSE n_chars END n_chars FROM v0),
        |v2 AS (SELECT * FROM v1 WHERE n_chars >= 100)
        |SELECT CAST(grp AS BIGINT) AS grp, doc_id, n_chars FROM v2
        |WHERE NOT (grp = 2 AND doc_id % 5 = 3)
        |ORDER BY doc_id""".stripMargin,
    // q179: the mixed-file widened table re-derived from the
    // predicates — arm A narrow files (+1 where the UPDATE hit),
    // arm B wide appends, the n >= 50 filter over both
    "q179_type_widening" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    (n_chars % 1000) +
        |      (CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS n,
        |    CAST(n_chars % 97 AS DOUBLE) AS r
        |  FROM documents WHERE doc_id % 3 = 0),
        |b AS (
        |  SELECT doc_id, n_chars * 10000000000 AS n,
        |    n_chars + 0.25 AS r
        |  FROM documents WHERE doc_id % 3 = 1),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT doc_id, cast(n as bigint) AS n, r FROM u
        |WHERE n >= 50 ORDER BY doc_id""".stripMargin,
    // q180: generated columns re-derived from the expressions alone
    // (identity invariants are require()d in the gate; its values are
    // partition-dependent and stay out of the hashed surface)
    "q180_generated_identity" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    n_chars + (CASE WHEN doc_id % 7 = 0 THEN 5 ELSE 0 END) AS n_chars
        |  FROM documents)
        |SELECT doc_id, cast(n_chars as bigint) AS n_chars,
        |  cast(n_chars * 1000 + doc_id % 10 as bigint) AS n_kilo,
        |  'd' || cast(doc_id % 5 as varchar) AS tag
        |FROM base ORDER BY doc_id""".stripMargin,
    // q182: the post-replace content plus the pre-replace snapshot
    // read through the NEW contract (lang null-fills on pre files)
    "q182_replace_history" ->
      """SELECT 'cur' AS snap, doc_id, lang FROM documents
        |WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT 'pre', doc_id, NULL FROM documents WHERE doc_id % 4 = 0
        |ORDER BY snap, doc_id""".stripMargin,
    // q181: defaults re-derived from the insert predicates alone
    "q181_default_values" ->
      """SELECT doc_id, 'new' AS status, cast(100 as bigint) AS boost
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'seen', cast(100 as bigint) FROM documents
        |WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, 'done', cast(n_chars as bigint) FROM documents
        |WHERE doc_id % 3 = 2
        |ORDER BY doc_id""".stripMargin,
    // q173: the appendOnly table after every refused mutation = its
    // pure insert history
    "q173_append_only" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 3 IN (0, 1)
        |ORDER BY doc_id""".stripMargin,
    // q174: age-gated retention — expired v=0/v=2 die, TAGGED v=1 and
    // the keep-floor v=3 survive with their version labels
    "q174_age_retention" ->
      """SELECT 1 AS v, doc_id, n_chars FROM documents WHERE doc_id % 4 = 1
        |UNION ALL
        |SELECT 3 AS v, doc_id, n_chars FROM documents WHERE doc_id % 4 = 3
        |ORDER BY v, doc_id""".stripMargin,
    // q175: TIMESTAMP AS OF 1012 over the checkpointed history = the
    // epoch-12 snapshot of the filtered base
    "q175_checkpoint_travel" ->
      """SELECT doc_id, n_chars, CAST(12 AS BIGINT) AS epoch
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin,
    // q176: evolved table = pre-evolution half (lang null-filled) plus
    // the evolved append carrying it
    "q176_evolve_append" ->
      """SELECT doc_id, n_chars, NULL AS lang FROM documents
        |WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,
    // q177: merged table = evens (lang set where the source matched,
    // null elsewhere) plus the odd multiples of 3 the merge inserted
    "q177_merge_evolution" ->
      """SELECT doc_id, n_chars,
        |  CASE WHEN doc_id % 3 = 0 THEN lang END AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,
    // q169: the tag pins v=1 = the first two inserts' predicate union,
    // resolvable by NAME even after retention deleted v=0
    "q169_version_tags" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 3 IN (0, 1)
        |ORDER BY doc_id""".stripMargin,
    // q168 shares q141's oracle verbatim: the batch CDF range read and
    // the streaming drain must produce the same rows
    "q168_batch_change_feed" ->
      """WITH b AS (SELECT doc_id, n_chars * 1000 price FROM documents),
        |v0 AS (SELECT * FROM b WHERE doc_id % 5 <> 0),
        |v1 AS (SELECT doc_id, price +
        |         CASE WHEN doc_id % 3 = 0 THEN 7 ELSE 0 END price
        |       FROM b WHERE doc_id % 4 <> 0),
        |j AS (SELECT coalesce(v0.doc_id, v1.doc_id) doc_id,
        |        v0.price old_price, v1.price new_price,
        |        v0.doc_id k0, v1.doc_id k1
        |      FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
        |SELECT doc_id,
        |  CASE WHEN k0 IS NULL THEN 'added'
        |       WHEN k1 IS NULL THEN 'removed'
        |       ELSE 'changed' END change_type,
        |  old_price, new_price
        |FROM j
        |WHERE k0 IS NULL OR k1 IS NULL
        |   OR old_price IS DISTINCT FROM new_price
        |ORDER BY doc_id""".stripMargin,
    "q141_dsv2_change_feed" ->
      """WITH b AS (SELECT doc_id, n_chars * 1000 price FROM documents),
        |v0 AS (SELECT * FROM b WHERE doc_id % 5 <> 0),
        |v1 AS (SELECT doc_id, price +
        |         CASE WHEN doc_id % 3 = 0 THEN 7 ELSE 0 END price
        |       FROM b WHERE doc_id % 4 <> 0),
        |j AS (SELECT coalesce(v0.doc_id, v1.doc_id) doc_id,
        |        v0.price old_price, v1.price new_price,
        |        v0.doc_id k0, v1.doc_id k1
        |      FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
        |SELECT doc_id,
        |  CASE WHEN k0 IS NULL THEN 'added'
        |       WHEN k1 IS NULL THEN 'removed'
        |       ELSE 'changed' END change_type,
        |  old_price, new_price
        |FROM j
        |WHERE k0 IS NULL OR k1 IS NULL
        |   OR old_price IS DISTINCT FROM new_price
        |ORDER BY doc_id""".stripMargin,
    "q120_version_change_feed" ->
      """WITH b AS (SELECT doc_id, n_chars * 1000 price FROM documents),
        |v0 AS (SELECT * FROM b WHERE doc_id % 5 <> 0),
        |v1 AS (SELECT doc_id, price +
        |         CASE WHEN doc_id % 3 = 0 THEN 7 ELSE 0 END price
        |       FROM b WHERE doc_id % 4 <> 0),
        |j AS (SELECT coalesce(v0.doc_id, v1.doc_id) doc_id,
        |        v0.price old_price, v1.price new_price,
        |        v0.doc_id k0, v1.doc_id k1
        |      FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
        |SELECT doc_id,
        |  CASE WHEN k0 IS NULL THEN 'added'
        |       WHEN k1 IS NULL THEN 'removed'
        |       ELSE 'changed' END change_type,
        |  old_price, new_price
        |FROM j
        |WHERE k0 IS NULL OR k1 IS NULL
        |   OR old_price IS DISTINCT FROM new_price
        |ORDER BY doc_id""".stripMargin,
    "q63_versioned_load" ->
      // what SHOULD survive: versions 1 and 2 only (v3 rolled back,
      // v0 aged out by keep=2), holding the prepared+patched rows
      """WITH prep AS (
        |  SELECT doc_id, 'apartment-sell' cat3_slug,
        |    cast(CASE WHEN doc_id%5=0 THEN 1369
        |              ELSE 1350 + doc_id%60 END as int) construction_year,
        |    cast(n_chars*1000 as bigint) price
        |  FROM documents WHERE doc_id%4=0)
        |SELECT cast(1 as int) v, doc_id, cat3_slug, construction_year,
        |  price + 1 AS price FROM prep
        |UNION ALL
        |SELECT cast(2 as int), doc_id, cat3_slug, construction_year,
        |  price + 2 FROM prep
        |ORDER BY v, doc_id""".stripMargin,
    "q67_csv_swap" ->
      """SELECT doc_id, text, lang, n_chars,
        |  '"' || lang || '",:,' || source AS tricky
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q130_compact_versions" ->
      """SELECT doc_id, lang, n_chars,
        |  cast(n_chars * 1000 as bigint) price
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q131_time_travel" ->
      // as-of 2500 resolves the stamp-2000 version: price + 10
      """SELECT doc_id, cast(n_chars * 1000 + 10 as bigint) price
        |FROM documents ORDER BY doc_id""".stripMargin)
}
