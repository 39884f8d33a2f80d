package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** The commit-atomicity seam: the one commit routine must
  * serialize through ANY [[CommitStore]] whose version claim is
  * fail-closed — including an object-store-shaped one whose "rename"
  * is copy+delete (non-atomic data movement) and whose claims
  * spuriously fail (a racing conditional put) — for every writer, the
  * path API's included ([[ObjectStoreSim]], [[RaceOnFirstClaim]]). The
  * POSIX default's put-if-absent contract is pinned directly. */
class CommitStoreSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def df(t: (Long, Long, String)*): DataFrame =
    t.toDF("id", "price", "tag")

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  test("PosixCommitStore.publishVersion is put-if-absent: an existing " +
      "version loses the claim and the staging dir survives for rebase") {
    val root = Files.createTempDirectory("cs_posix_")
    Files.createDirectories(root.resolve("v=0"))
    val staged = Files.createTempDirectory(root, "_staging_")
    Files.write(staged.resolve("part-x.parquet"), Array[Byte](1, 2, 3))
    assert(!PosixCommitStore.publishVersion(root, staged, 0L),
      "claiming an existing version must fail closed")
    assert(Files.isDirectory(staged) &&
      Files.exists(staged.resolve("part-x.parquet")),
      "a lost claim must leave the staged output intact for the retry")
    assert(PosixCommitStore.publishVersion(root, staged, 1L))
    assert(Files.exists(root.resolve("v=1").resolve("part-x.parquet")))
    assert(Files.notExists(staged))
  }

  test("publishFile replaces atomically and leaves no sweepable temp") {
    val root = Files.createTempDirectory("cs_hint_")
    val target = root.resolve("_graft_latest")
    PosixCommitStore.publishFile(target, "7".getBytes)
    assert(new String(Files.readAllBytes(target)) === "7")
    PosixCommitStore.publishFile(target, "8".getBytes)
    assert(new String(Files.readAllBytes(target)) === "8")
    val stream = Files.list(root)
    val leftovers =
      try {
        val it = stream.iterator()
        var acc = List.empty[String]
        while (it.hasNext) acc ::= it.next().getFileName.toString
        acc.filter(_.endsWith(".tmp"))
      } finally stream.close()
    assert(leftovers.isEmpty, s"tmp leftovers: $leftovers")
  }

  test("concurrent appends serialize through a copy+delete object-store " +
      "sim with racing claims (the claim loop, not rename, is the truth)") {
    val sim = new ObjectStoreSim(spuriousLosses = 3)
    CommitStore.withStore(sim) {
      val root = Files.createTempDirectory("cs_sim_").toString
      df((0L, 0L, "base")).write.format("graft-versioned")
        .option("create", "true").mode("append").save(root)
      val schema = df((0L, 0L, "")).schema
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          try {
            val bw = new GraftBatchWrite(root, schema, replace = false,
              commitTs = Some(1000L + i), queryId = s"cs$i")
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
      assert(sim.lostClaims.get() >= 3,
        "the spurious losses must have exercised the rebase loop")
      // serialized into distinct versions, nothing lost to a stale link
      assert(Versioned.versions(root) === Seq(0L, 1L, 2L, 3L, 4L))
      assert(rows(Versioned.read(spark, root)) === rows(df(
        (0L, 0L, "base"), (1L, 10L, "w1"), (2L, 20L, "w2"),
        (3L, 30L, "w3"), (4L, 40L, "w4"))))
      // every version's content came through the copy+delete path —
      // the sim, not posix rename, published them all
      assert(sim.claims.size() === 5)
    }
  }

  test("row-level commits rebase through the sim exactly as on POSIX " +
      "(disjoint DV deletes both land)") {
    val sim = new ObjectStoreSim(spuriousLosses = 1)
    CommitStore.withStore(sim) {
      val root = Files.createTempDirectory("cs_rl_").toString
      df((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .repartition(3, $"id").write.format("graft-versioned")
        .option("create", "true").mode("append").save(root)
      import org.apache.spark.sql.functions.col
      VersionedWriteIo.deleteViaDv(spark, root, col("id") === 1L)
      VersionedWriteIo.deleteViaDv(spark, root, col("id") === 3L)
      assert(rows(Versioned.read(spark, root)) === rows(df((2L, 20L, "b"))))
      assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
    }
  }

  test("writeNext claims through the store: the loser of a race with " +
      "another writeNext rebases onto the next version") {
    val root = Files.createTempDirectory("cs_wn_race_").toString
    Versioned.writeNext(df((0L, 0L, "base")), root)
    val race = new RaceOnFirstClaim(CommitStore.active,
      () => Versioned.writeNext(df((1L, 10L, "rival")), root))
    val v = CommitStore.withStore(race)(
      Versioned.writeNext(df((2L, 20L, "mine")), root))
    assert(race.fired, "writeNext must claim its version through the CommitStore")
    assert(v === 2L)
    assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
    assert(rows(Versioned.read(spark, root, Some(1L))) === rows(df((1L, 10L, "rival"))))
    assert(rows(Versioned.read(spark, root, Some(2L))) === rows(df((2L, 20L, "mine"))))
    assert(Versioned.fsck(root).contains((-1L, "staging-leftovers", 0L, "")))
  }

  test("restore, clone and convert publish through the store's claim: " +
      "a lost claim rebases (restore) or retries (clone, convert)") {
    val root = Files.createTempDirectory("cs_rcc_").toString
    Versioned.writeNext(df((1L, 10L, "v0")), root)
    Versioned.writeNext(df((2L, 20L, "v1")), root)
    // restore's first claim loses to a rival append AND a spurious loss:
    // it rebases onto the rival's version instead of failing
    val sim = new ObjectStoreSim(spuriousLosses = 1)
    val race = new RaceOnFirstClaim(sim,
      () => Versioned.writeNext(df((3L, 30L, "rival")), root))
    val restored = CommitStore.withStore(race)(Versioned.restoreTo(root, 0L))
    assert(restored === 3L)
    assert(sim.published(Paths.get(root), 3L))
    assert(rows(Versioned.read(spark, root, Some(2L))) === rows(df((3L, 30L, "rival"))))
    assert(rows(Versioned.read(spark, root)) === rows(df((1L, 10L, "v0"))))
    // clone and convert claim v=0 through the sim, retrying past a
    // spurious loss each
    val base = Files.createTempDirectory("cs_rcc_dst_")
    val clone = base.resolve("clone").toString
    val conv = base.resolve("conv").toString
    val srcDir = base.resolve("plain").toString
    df((4L, 40L, "plain")).write.parquet(srcDir)
    val sim2 = new ObjectStoreSim(spuriousLosses = 1)
    CommitStore.withStore(sim2)(Versioned.cloneTo(root, clone, srcVersion = Some(1L)))
    val sim3 = new ObjectStoreSim(spuriousLosses = 1)
    assert(CommitStore.withStore(sim3)(Versioned.convertFrom(srcDir, conv)) === 0L)
    assert(sim2.published(Paths.get(clone), 0L) && sim2.lostClaims.get() === 1)
    assert(sim3.published(Paths.get(conv), 0L) && sim3.lostClaims.get() === 1)
    assert(rows(Versioned.read(spark, clone)) === rows(df((2L, 20L, "v1"))))
    assert(rows(Versioned.read(spark, conv)) === rows(df((4L, 40L, "plain"))))
    Seq(root, clone, conv).foreach(r =>
      assert(Versioned.fsck(r).contains((-1L, "staging-leftovers", 0L, "")), r))
  }

  test("compact that loses its claim to a concurrent append fails " +
      "loudly and the append stays the latest version") {
    val root = Files.createTempDirectory("cs_compact_race_").toString
    val base = df((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
    Versioned.writeNext(base.repartition(3), root, Some(1000L))
    val rival = df((4L, 40L, "rival"))
    val race = new RaceOnFirstClaim(CommitStore.active, () =>
      rival.write.format("graft-versioned").mode("append").save(root))
    val err = intercept[IllegalStateException](
      CommitStore.withStore(race)(Versioned.compact(spark, root)))
    assert(race.fired)
    assert(err.getMessage.contains("concurrent commit"), err.getMessage)
    assert(Versioned.versions(root) === Seq(0L, 1L))
    assert(rows(Versioned.read(spark, root)) === rows(base.union(rival)))
    assert(Versioned.fsck(root).contains((-1L, "staging-leftovers", 0L, "")))
  }

  test("a copy-on-write DELETE that loses its claim to a concurrent " +
      "INSERT fails loudly and the inserted rows stay") {
    val warehouse = Files.createTempDirectory("cs_cow_race_").toString
    spark.conf.set("spark.sql.catalog.csrace", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.csrace.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS csrace.t")
    spark.sql("CREATE TABLE csrace.t.cow (id BIGINT, v BIGINT) USING `graft-versioned`")
    spark.sql("INSERT INTO csrace.t.cow SELECT id, id * 10 FROM range(0, 10)")
    val root = s"$warehouse/t/cow"
    val race = new RaceOnFirstClaim(CommitStore.active, () =>
      spark.sql("INSERT INTO csrace.t.cow VALUES (100, 1000)"))
    val err = intercept[Exception](CommitStore.withStore(race)(
      spark.sql("DELETE FROM csrace.t.cow WHERE id < 5")))
    assert(race.fired)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("concurrent commit")),
      err.toString)
    assert(Versioned.versions(root) === Seq(0L, 1L))
    assert(spark.sql("SELECT id FROM csrace.t.cow").collect().map(_.getLong(0))
      .sorted.toSeq === (0L until 10L) :+ 100L)
    assert(Versioned.fsck(root).contains((-1L, "staging-leftovers", 0L, "")))
  }

  test("a row-level commit that runs out of claim attempts fails as " +
      "a concurrent-commit conflict") {
    val root = Files.createTempDirectory("cs_rl_exhaust_").toString
    df((1L, 10L, "a"), (2L, 20L, "b")).write.format("graft-versioned")
      .option("create", "true").mode("append").save(root)
    import org.apache.spark.sql.functions.col
    val err = intercept[IllegalStateException](
      CommitStore.withStore(new ObjectStoreSim(spuriousLosses = 20))(
        VersionedWriteIo.deleteViaDv(spark, root, col("id") === 1L)))
    assert(err.getMessage.contains("20 rebase attempts exhausted"), err.getMessage)
    assert(err.getMessage.contains("retry the statement against current data"))
    assert(Versioned.versions(root) === Seq(0L))
    assert(Versioned.fsck(root).contains((-1L, "staging-leftovers", 0L, "")))
  }
}
