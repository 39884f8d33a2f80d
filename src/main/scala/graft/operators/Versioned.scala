package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedWriteIo

/** Versioned dataset storage + ops parity (SURVEY.md §2.1 S13/S14, §2.5
  * O3, §5 inline guards) — the Spark-side equivalent of the reference's
  * MinIO last-data/old-data swap (price_prediction_data_pipeline.py:
  * 140-177,228-263) and mongodump backup/restore/validate/retention
  * (utils_of_backup.py:43-164), expressed as immutable versioned parquet
  * directories: a write creates `v=<n>`, "current" is the max n, rollback
  * is a version pin, retention drops the oldest. On a transactional table
  * format the same API maps onto time travel/RESTORE.
  */
object Versioned {

  private def versionDirs(root: String): Seq[(Long, Path)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      // Files.list holds a directory fd until closed — loan it
      val stream = Files.list(p)
      try {
        val it = stream.iterator()
        var acc = List.empty[(Long, Path)]
        while (it.hasNext) {
          val d = it.next()
          val n = d.getFileName.toString
          if (n.startsWith("v=")) acc ::= (n.drop(2).toLong, d)
        }
        acc.sortBy(_._1)
      } finally stream.close()
    }
  }

  /** Root-level latest-version HINT (`_graft_latest`): resolving
    * "current" on a long history must not list every version dir — at
    * object-store scale a directory listing over 10⁴ commits is the
    * classic latency killer the Delta log's `_last_checkpoint` solves.
    * The hint is exactly that checkpoint: commit writers update it
    * best-effort AFTER the atomic version rename, and [[latestVersion]]
    * verifies it (the hinted dir must exist) then probes FORWARD until
    * the first missing version — correct because surviving versions
    * form a contiguous range (retention drops the oldest, rollback the
    * newest), and probing costs O(commits since the hint), not
    * O(history). A stale, torn, or missing hint falls back to the full
    * listing — the hint can speed resolution up but never change it. */
  private val LatestHint = "_graft_latest"

  private[graft] def writeLatestHint(root: String, version: Long): Unit =
    // routed through the CommitStore seam (atomic metadata replace)
    try graft.sources.CommitStore.active.publishFile(
      Paths.get(root, LatestHint),
      version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // best-effort: it's a hint

  private def readLatestHint(root: String): Option[Long] = {
    val f = Paths.get(root, LatestHint)
    if (!Files.exists(f)) None
    else scala.util.Try(new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong).toOption
  }

  def latestVersion(root: String): Option[Long] =
    graft.sources.CommitStore.active.latestVersion(Paths.get(root))

  /** The POSIX resolution behind [[graft.sources.PosixCommitStore]]:
    * verified hint + forward probe, full listing fallback. */
  private[graft] def latestVersionPosix(root: String): Option[Long] =
    readLatestHint(root) match {
      case Some(h) if Files.isDirectory(Paths.get(root, s"v=$h")) =>
        // verified hint: probe forward to the first missing version
        var v = h
        while (Files.isDirectory(Paths.get(root, s"v=${v + 1}"))) v += 1
        Some(v)
      case _ => versionDirs(root).lastOption.map(_._1) // stale/absent hint
    }

  /** All version numbers under the root, ascending — for the DSv2
    * writer's commit bookkeeping (streaming epoch replay detection).
    * Resolution routes through the [[graft.sources.CommitStore]] seam:
    * on a store whose data movement is not atomic, the LOG — not a raw
    * directory listing — decides what is committed. */
  private[graft] def versions(root: String): Seq[Long] =
    graft.sources.CommitStore.active.listVersions(Paths.get(root))

  /** The raw POSIX listing behind [[graft.sources.PosixCommitStore]]. */
  private[graft] def listVersionsPosix(root: String): Seq[Long] =
    versionDirs(root).map(_._1)

  /** The stamp a commit onto `base` records for a requested `ts`:
    * `max(parent stamp, ts)`, where the parent stamp is the nearest
    * stamped version at or below `base`.
    *
    * IN-COMMIT TIMESTAMP MONOTONICITY (Delta's inCommitTimestamps
    * rationale): `TIMESTAMP AS OF` ([[resolveAsOf]]), CDF timestamp
    * bounds and age-based retention all assume stamps are monotone in
    * version — with multiple writers and clock skew, wall-clock is
    * not, and a backwards stamp would resolve time travel to the wrong
    * version. EQUAL stamps stay legal (a layout-only rewrite like
    * compact deliberately shares its source's stamp, and
    * [[resolveAsOf]] breaks ties toward the newest version), only a
    * strictly BACKWARDS stamp is lifted. The walk stops at the nearest
    * stamped ancestor (normally `base` itself, one O(1) read; an
    * unstamped prefix only exists on path-based roots written with
    * [[writeNext]] and no `commitTs`). */
  private[graft] def clampStamp(root: String, base: Option[Long], ts: Long): Long =
    base.iterator.flatMap(b => (b to 0L by -1).iterator)
      .map(commitStamp(root, _)).collectFirst { case Some(p) => math.max(p, ts) }
      .getOrElse(ts)

  /** S13 load: write the next version (old data stays addressable — the
    * copy-to-old-data step becomes a no-op). Pass `commitTs` to stamp
    * the version with a commit timestamp in its [[CommitRecord]] —
    * the deterministic anchor for [[readAsOf]] time travel; directory
    * mtimes would drift across copies/restores. `layout` applies
    * writer-side clustering + file-size targets
    * ([[Layout.WriteSpec]]) so the version's row-group stats prune for
    * readers filtering on the sort key. The job writes into a
    * `_staging_*` dir that the shared commit routine publishes as the
    * next version (a failed job or a lost claim never leaves a `v=N`
    * behind; a racing writer pushes this one to the version after). */
  def writeNext(df: DataFrame, root: String, commitTs: Option[Long] = None,
                layout: Layout.WriteSpec = Layout.WriteSpec()): Long =
    stageAndCommit(df, root, commitTs, layout)(_ => ())

  /** [[writeNext]] for a read-modify-write: `df` derives from
    * v=`scanned`, so a commit that landed since (rows `df` never saw)
    * fails this write loudly instead of being silently replaced. */
  private[graft] def writeOver(df: DataFrame, root: String, scanned: Long,
                               what: String,
                               commitTs: Option[Long] = None): Long =
    stageAndCommit(df, root, commitTs, Layout.WriteSpec()) { base =>
      if (!base.contains(scanned))
        throw VersionedWriteIo.concurrentCommit(root, scanned, what,
          "it rewrote an older version")
    }

  private def stageAndCommit(df: DataFrame, root: String,
                             commitTs: Option[Long], layout: Layout.WriteSpec)(
      checkBase: Option[Long] => Unit): Long = {
    // writer gate BEFORE the job: the manifest-time funnel check would
    // refuse the write only after the whole job had run
    checkWriteProtocol(root)
    val staged = Paths.get(root, s"_staging_write_${java.util.UUID.randomUUID}")
    try Layout.applySpec(df, layout).write
      .options(Layout.writerOptions(layout)).parquet(staged.toString)
    catch { case e: Throwable => deleteRecursively(staged); throw e }
    VersionedWriteIo.commit(root, staged, CommitRecord(stamp = commitTs)) { base =>
      checkBase(base)
      VersionedWriteIo.Carry()
    }
  }

  /** The commit stamp of a version, if its commit recorded one. */
  def commitStamp(root: String, version: Long): Option[Long] =
    commitRecord(root, version).stamp

  // ------------------------------------------- commit-log checkpoint

  /** Aggregated COMMIT-LOG CHECKPOINT (`_graft_checkpoint`) — the
    * `_last_checkpoint` analog for long histories. `TIMESTAMP AS OF`
    * resolution and `sys.history` otherwise read one commit record
    * (plus file sizes and DV headers) PER VERSION — on an
    * object store a 10k-commit history is 10k GETs per timestamp-travel
    * read or history listing. The checkpoint aggregates the IMMUTABLE
    * per-commit facts (stamp, operation kind, file count, byte
    * footprint, DV state, message, feed presence) for every version up
    * to a cover point into ONE file, refreshed every
    * [[CheckpointInterval]] stamped commits; readers take checkpoint
    * rows for covered versions and walk only the (≤ interval-sized)
    * tail — O(1) GETs amortized instead of O(history).
    *
    * Truth discipline: the checkpoint is an ACCELERATOR. The surviving
    * version set always comes from the directory listing (one LIST),
    * so rows for retention-deleted versions are dead weight, not
    * wrong answers; a corrupt or unparseable checkpoint falls back to
    * the full walk; and [[rollback]] truncates the cover below a
    * dropped version, because a later commit may REUSE that version
    * number with different facts. Rows cover versions strictly BELOW
    * the committing version — its change feed lands after its claim,
    * so its feed presence is not final yet. */
  private[graft] val CheckpointFile = "_graft_checkpoint"
  private[graft] val CheckpointInterval = 10L

  /** The immutable per-commit facts the checkpoint carries — exactly
    * what `sys.history` surfaces minus the mutable tag column. */
  private[graft] case class CommitInfo(
      ts: Option[Long], op: String, nFiles: Int, bytes: Long,
      nDvs: Int, nDeletedRows: Long, message: Option[String],
      hasFeed: Boolean)

  /** Compute one version's facts from its own files (the walk path —
    * what the checkpoint memoizes). */
  private[graft] def commitInfoOf(root: String, v: Long): CommitInfo = {
    val vdir = Paths.get(root, s"v=$v")
    val files = dataFiles(vdir)
    val dvs = DeletionVectors.dvMap(vdir)
    val record = commitRecord(root, v)
    CommitInfo(record.stamp, record.op, files.size,
      files.map(Files.size(_)).sum, dvs.size,
      dvs.values.map(DeletionVectors.cardinality).sum,
      record.message, Files.exists(Paths.get(feedDir(root, v))))
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val checkpointLock = new Object

  /** (cover version, version → facts) — None when absent OR unreadable
    * (corruption falls back to the walk, never to an error). */
  private[graft] def readCheckpoint(root: String): Option[(Long, Map[Long, CommitInfo])] = {
    val p = Paths.get(root, CheckpointFile)
    if (!Files.exists(p)) return None
    scala.util.Try {
      val lines = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
      require(lines.nonEmpty && lines.head.startsWith("cp "))
      val cover = lines.head.drop(3).trim.toLong
      val rows = lines.tail.filter(_.nonEmpty).map { l =>
        val o = jsonMapper.readTree(l)
        o.get("v").longValue() -> CommitInfo(
          if (o.hasNonNull("ts")) Some(o.get("ts").longValue()) else None,
          o.get("op").textValue(), o.get("nf").intValue(),
          o.get("b").longValue(), o.get("dv").intValue(),
          o.get("dr").longValue(),
          if (o.hasNonNull("msg")) Some(o.get("msg").textValue()) else None,
          o.get("feed").booleanValue())
      }.toMap
      (cover, rows)
    }.toOption
  }

  /** One version's facts, checkpoint-resolved when covered, computed
    * from its files otherwise — the shared fast path of [[resolveAsOf]]
    * and the catalog's history procedure. */
  private[graft] def commitInfoFast(root: String, v: Long,
      cp: Option[(Long, Map[Long, CommitInfo])]): CommitInfo =
    cp.filter(_._1 >= v).flatMap(_._2.get(v))
      .getOrElse(commitInfoOf(root, v))

  /** Refresh the checkpoint to cover versions ≤ `cover`: carry rows the
    * previous checkpoint already holds, compute only the new tail —
    * amortized O(1) facts per commit. Published via temp + atomic
    * rename; serialized within the JVM like the tag/protocol files. */
  private[graft] def writeCheckpoint(root: String, cover: Long): Unit =
    checkpointLock.synchronized {
      val carry = readCheckpoint(root) match {
        case Some((prevCover, rows)) => rows.filter(_._1 <= prevCover)
        case None => Map.empty[Long, CommitInfo]
      }
      val surviving = versions(root).filter(_ <= cover)
      val lines = ("cp " + cover) +: surviving.map { v =>
        val i = carry.getOrElse(v, commitInfoOf(root, v))
        val o = jsonMapper.createObjectNode()
        o.put("v", v)
        i.ts.foreach(o.put("ts", _))
        o.put("op", i.op); o.put("nf", i.nFiles); o.put("b", i.bytes)
        o.put("dv", i.nDvs); o.put("dr", i.nDeletedRows)
        i.message.foreach(o.put("msg", _))
        o.put("feed", i.hasFeed)
        jsonMapper.writeValueAsString(o)
      }
      val tmp = Files.createTempFile(Paths.get(root), "_graft_checkpoint_", ".tmp")
      Files.write(tmp, lines.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(root, CheckpointFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  /** Invalidate checkpoint rows at/above a dropped version — rollback
    * may be followed by a fresh commit REUSING the version number, and
    * a stale row would then memoize the wrong facts forever. */
  private[graft] def truncateCheckpoint(root: String, droppedVersion: Long): Unit =
    checkpointLock.synchronized {
      readCheckpoint(root).foreach { case (cover, _) =>
        if (cover >= droppedVersion) {
          if (droppedVersion == 0L)
            Files.deleteIfExists(Paths.get(root, CheckpointFile))
          else writeCheckpoint(root, droppedVersion - 1)
        }
      }
    }

  /** Timestamp-based time travel (`TIMESTAMP AS OF`): resolve the
    * LATEST version whose commit stamp is ≤ `asOf` and read it.
    * Resolution never falls back to filesystem mtimes, which are not
    * stable across backup/restore copies (the reference's own restore
    * path, utils_of_backup.py:75-103, would reset them).
    *
    * Unstamped versions are SKIPPED, not fatal: a stamp is part of the
    * commit record its claim publishes, so an unstamped version is one
    * written by [[writeNext]] without `commitTs`, and it must not
    * poison time travel for every timestamp on the root — older
    * stamped versions stay resolvable. Only when NO stamped version
    * exists does readAsOf fail loudly. */
  def readAsOf(spark: SparkSession, root: String, asOf: Long): DataFrame =
    read(spark, root, Some(resolveAsOf(root, asOf)))

  /** The version a `TIMESTAMP AS OF` read resolves to — shared by
    * [[readAsOf]] and the DSv2 provider's `timestampAsOf` option. */
  def resolveAsOf(root: String, asOf: Long): Long = {
    val dirs = versionDirs(root)
    if (dirs.isEmpty) throw new IllegalStateException(s"no versions under $root")
    // ONE listing (the truth for what survives) + ONE checkpoint read
    // cover the whole history; per-version stamp files are read only
    // for the post-checkpoint tail — O(interval), not O(history)
    val cp = readCheckpoint(root)
    def stampOf(v: Long): Option[Long] =
      cp.filter(_._1 >= v).flatMap(_._2.get(v)).fold(commitStamp(root, v))(_.ts)
    val stamped = dirs.flatMap { case (v, _) => stampOf(v).map(v -> _) }
    if (stamped.isEmpty)
      throw new IllegalStateException(
        s"no version under $root has a commit stamp — write versions with " +
          "writeNext(df, root, commitTs = Some(ts)) to enable time travel")
    val eligible = stamped.filter(_._2 <= asOf)
    if (eligible.isEmpty)
      throw new IllegalStateException(
        s"no version committed at or before $asOf under $root " +
          s"(earliest commit is ${stamped.map(_._2).min})")
    // tie-break on version: a compaction rewrite carries its source's
    // stamp forward, and the newer (compacted) layout must win
    eligible.maxBy(e => (e._2, e._1))._1
  }

  /** The version a compaction rewrites (the current one) and its stamp,
    * which the rewrite carries. On a time-travel-enabled root (any
    * stamped version present), a stampless current version would make
    * compaction emit ANOTHER unstamped version and silently shrink the
    * readAsOf horizon — refuse instead of quietly degrading (cf.
    * readAsOf's skip rule). */
  private def compactionBase(root: String): (Long, Option[Long]) = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no versions under $root"))
    val stamp = commitStamp(root, v)
    if (stamp.isEmpty && versionDirs(root).exists { case (ver, _) =>
        commitStamp(root, ver).isDefined })
      throw new IllegalStateException(
        s"current version v=$v under $root has no commit stamp but the root " +
          "is time-travel-enabled — roll back the torn version, or commit " +
          "a new version with an explicit commitTs, before compacting")
    (v, stamp)
  }

  /** OPTIMIZE-style small-file compaction: rewrite the CURRENT version's
    * many small parquet files into size-targeted files, committed as a
    * NEW version — history is preserved, so [[rollback]] still restores
    * the pre-compaction layout and readers pinned to the old version are
    * unaffected (the reference's copy-then-replace discipline,
    * price_prediction_data_pipeline.py:140-177, applied to file layout).
    * Reducing file count uses `coalesce`, which merges partitions on
    * read with NO shuffle — compaction is a read+write, never an
    * exchange. At 100 TB the same call runs per partition directory
    * (compact the partitions a streaming writer fragmented), so the
    * single-version shape here is the per-partition unit of that job.
    * Returns the new version number. */
  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L << 20,
              clusterBy: Seq[String] = Seq.empty,
              zorderBy: Seq[String] = Seq.empty): Long = {
    val (v, stamp) = compactionBase(root)
    val vdir = Paths.get(root, s"v=$v")
    val bytes = dataFiles(vdir).map(Files.size).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // compacting a DV-carrying version MATERIALIZES the deletes: the
    // rewrite holds only live rows and the new version carries no
    // sidecars
    val df = storedRows(spark, root, v)
    // a clustered table re-clusters on compaction (range + sort), so
    // the rewrite RESTORES file-level min/max locality instead of
    // interleaving it away — coalesce alone merges arbitrary ranges
    // and widens every file's key span; OPTIMIZE ZORDER BY (zorderBy,
    // two columns) interleaves rank-quantized bits instead, buying
    // stats pruning on BOTH filter dimensions at once
    val compacted =
      if (zorderBy.nonEmpty) {
        require(zorderBy.length >= 2 && zorderBy.length <= 4,
          s"compact: zorderBy takes 2-4 columns (each added dimension " +
            s"divides per-dimension pruning power), got ${zorderBy.mkString(", ")}")
        Layout.zorderByRankN(df, zorderBy, bits = 8, nFiles)
      } else if (clusterBy.nonEmpty)
        df.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else if (nFiles < df.rdd.getNumPartitions) df.coalesce(nFiles)
      else df
    // reusing v's stamp is only sound while v is still the latest
    writeOver(compacted, root, v, "compaction", stamp)
  }

  /** INCREMENTAL compaction — rewrite only the current version's data
    * files smaller than `smallerThanBytes`; everything else hard-links
    * over untouched through the row-level commit machinery. This is
    * the 100 TB form of OPTIMIZE: a streaming writer fragments the
    * tail of the table into small files every epoch, and re-clustering
    * the WHOLE table to heal that ([[compact]]) costs O(table) — this
    * costs O(small tail), the bulk's layout (and its Z-order, stats,
    * bloom lines) survives byte-identical, and the file-level conflict
    * discipline means it can run CONCURRENTLY with row-level mutations
    * on the un-rewritten files (Delta's OPTIMIZE bin-packing contract:
    * only files under the threshold are touched).
    *
    * DV-carrying small files are compacted too — the scan masks their
    * deleted positions, so the rewrite holds only live rows and sheds
    * the sidecars. Returns the new
    * version, or the CURRENT one when fewer than two files qualify
    * (nothing to merge — no empty commit). */
  def compactSmall(spark: SparkSession, root: String,
                   smallerThanBytes: Long,
                   targetFileBytes: Long = 128L << 20,
                   clusterBy: Seq[String] = Seq.empty): Long = {
    val (v, stamp) = compactionBase(root)
    val smalls = dataFiles(Paths.get(root, s"v=$v"))
      .filter(f => Files.size(f) < smallerThanBytes)
    if (smalls.size < 2) return v
    rewriteFiles(spark, root, v, smalls, targetFileBytes, clusterBy, stamp)
  }

  /** OPTIMIZE … WHERE (Delta's predicate-scoped compaction): rewrite
    * ONLY the data files whose per-file statistics MAY match `pred`
    * (physical-name space — the caller translates), hard-linking every
    * other file over through the row-level commit machinery. On a
    * `PARTITIONED BY`/clustered table the stats slices are narrow, so
    * "optimize this partition" touches exactly that partition's files
    * — maintenance cost scales with the slice, not the table. Files
    * without a stats line rewrite too (absence = may match, the
    * conservative direction for a rewrite). `smallerThan` composes:
    * only sub-threshold files inside the slice are packed. Fewer than
    * two candidates = nothing to pack, no-op. */
  def compactWhere(spark: SparkSession, root: String,
                   pred: org.apache.spark.sql.sources.Filter,
                   targetFileBytes: Long = 128L << 20,
                   clusterBy: Seq[String] = Seq.empty,
                   smallerThan: Long = Long.MaxValue): Long = {
    val (v, stamp) = compactionBase(root)
    val vdir = Paths.get(root, s"v=$v")
    val stats = FileStats.read(vdir)
    val selected = dataFiles(vdir).filter { f =>
      Files.size(f) < smallerThan &&
        stats.get(f.getFileName.toString)
          .forall(FileStats.mayMatch(_, pred))
    }
    if (selected.size < 2) return v
    rewriteFiles(spark, root, v, selected, targetFileBytes, clusterBy, stamp)
  }

  /** GDPR / TAKEDOWN PURGE: physically remove every row matching the
    * predicate from EVERY surviving version — the
    * right-to-be-forgotten / PII-takedown operation a versioned
    * training corpus must answer, and the one deliberate exception to
    * immutable history (compliance outranks reproducibility; a DELETE
    * only hides rows from the NEXT version, the bytes live on in every
    * older snapshot and every hard link).
    *
    * Mechanics: data files are deduplicated BY INODE (versions share
    * bytes via hard links — each distinct file rewrites ONCE), only
    * inodes whose statistics MAY match `selector` are touched (a
    * clustered/partitioned key purge reads just its slice), matching
    * rows drop under the null-keep DELETE rule (`pred` null ⇒ row
    * stays), the rewritten bytes re-link into every version that
    * carried the inode (names, manifests and link-sharing all
    * preserved; a fully-purged file stays as an empty parquet), stats
    * sidecar lines REFRESH for rewritten files in every affected
    * version (the old min/max would over-approximate forever), bloom +
    * ndv sidecar lines for them DROP (absence is the conservative
    * direction), and the commit-log checkpoint truncates (its byte
    * counts drifted). Tags keep resolving — their versions' content
    * simply no longer contains the purged rows.
    *
    * Refusals, each naming the fix: deletion-vector sidecars anywhere
    * in history (positions would shift under the rewrite — compact +
    * retention first), stored change feeds (the purged rows live in
    * the diffs too — a feed-preserving purge is a different
    * operation), and type-widening tables (a narrow file's rewrite
    * through the widening read would silently re-type it).
    *
    * Returns (files rewritten, rows purged). */
  def purgeRows(spark: SparkSession, root: String, predSql: String,
                selector: org.apache.spark.sql.sources.Filter,
                colMap: Map[String, String] = Map.empty): (Int, Long) = {
    val vdirs = versionDirs(root)
    require(vdirs.nonEmpty, s"purge: no versions under $root")
    vdirs.foreach { case (v, d) =>
      require(DeletionVectors.dvMap(d).isEmpty,
        s"purge: v=$v carries deletion-vector sidecars — their row " +
          "positions would shift under the rewrite; run sys.compact " +
          "(materializes DVs) and retention over older DV'd versions " +
          "first")
    }
    require(feedVersions(root).isEmpty,
      "purge: this table stores change feeds — the purged rows live " +
        "in the diffs too; a feed-preserving purge is not supported")
    require(!readerFeatures(root).contains("type-widening"),
      "purge: type-widening tables are unsupported — a narrow file's " +
        "rewrite through the widening read would re-type it")
    require(!RowIds.enabled(root),
      "purge: row-tracking tables are unsupported — the in-place " +
        "rewrite shifts row positions, so every derived `base + _pos` " +
        "id after a purged row would silently change; drop the " +
        "rowTracking property (sys history loses id stability) before " +
        "purging")
    // one rewrite per INODE; every (version, name) entry re-links
    val byInode = scala.collection.mutable.LinkedHashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Path]]
    vdirs.foreach { case (_, d) =>
      dataFiles(d).foreach { f =>
        val ino = Files.getAttribute(f, "unix:ino").asInstanceOf[Long]
        byInode.getOrElseUpdate(ino,
          scala.collection.mutable.ArrayBuffer.empty[Path]) += f
      }
    }
    val l2p = colMap.withDefault(identity)
    val p2l = colMap.map(_.swap).withDefault(identity)
    var filesRewritten = 0
    var rowsPurged = 0L
    byInode.values.foreach { paths =>
      val first = paths.head
      val name = first.getFileName.toString
      // statistics gate: the file rewrites only when SOME version's
      // stats line admits the predicate (absent stats = may match)
      val mayMatch = paths.exists { f =>
        FileStats.read(f.getParent).get(name)
          .forall(FileStats.mayMatch(_, selector))
      }
      if (mayMatch) {
        val raw = spark.read.parquet(first.toString)
        // the predicate speaks LOGICAL names; files store physical
        val logical = raw.select(raw.columns.toSeq
          .map(c => col(c).as(p2l(c))): _*)
        val before = raw.count()
        val kept = logical
          .filter(!coalesce(expr(predSql), lit(false)))
          .select(logical.columns.toSeq.map(c => col(c).as(l2p(c))): _*)
          .coalesce(1)
        val tmpDir = Files.createTempDirectory(Paths.get(root),
          "_staging_purge_")
        kept.write.mode("overwrite").parquet(tmpDir.toString)
        val part = listParquet(tmpDir).headOption.getOrElse {
          // zero survivors and the writer cut no file: cut an empty one
          val phys = org.apache.spark.sql.types.StructType(raw.schema.fields)
          graft.sources.VersionedWriterFactory(phys, tmpDir.toString)
            .emptyFile("part-empty.parquet")
          listParquet(tmpDir).head
        }
        val after = spark.read.parquet(part.toString).count()
        if (after < before) {
          // publish: move over the first link, re-link the rest — the
          // version dirs keep sharing one inode, names unchanged
          Files.move(part, first,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          paths.tail.foreach { f =>
            Files.deleteIfExists(f)
            Files.createLink(f, first)
          }
          // Hadoop's local FS keeps `.name.crc` checksum twins — the
          // old one now mismatches the rewritten bytes and would fail
          // every future read loudly; drop it in each version dir
          paths.foreach { f =>
            Files.deleteIfExists(f.getParent.resolve(
              "." + f.getFileName.toString + ".crc"))
          }
          filesRewritten += 1
          rowsPurged += before - after
          paths.map(_.getParent).distinct.foreach { vdir =>
            FileStats.refreshLines(vdir, Set(name))
            dropSidecarLines(vdir.resolve(BloomSidecar.Sidecar), name)
            dropSidecarLines(vdir.resolve(NdvSidecar.Sidecar), name)
          }
        }
        deleteRecursively(tmpDir)
      }
    }
    if (rowsPurged > 0) truncateCheckpoint(root, 0L)
    (filesRewritten, rowsPurged)
  }

  /** Drop the `{"f": name, …}` lines naming a rewritten file from a
    * bloom/ndv sidecar — absence is each layer's conservative state. */
  private def dropSidecarLines(sidecar: Path, name: String): Unit = {
    if (!Files.exists(sidecar)) return
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val kept = new String(Files.readAllBytes(sidecar),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.filter { l =>
      scala.util.Try(
        mapper.readTree(l).get("f").textValue() != name).getOrElse(true)
    }.toSeq
    if (kept.isEmpty) Files.deleteIfExists(sidecar)
    else {
      val tmp = Files.createTempFile(sidecar.getParent, "_graft_sc_", ".tmp")
      Files.write(tmp, kept.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, sidecar, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The live rows of v=`v` as its files store them — what a
    * compaction rewrites. ONE read path, the `graft-versioned` scan: it
    * masks deletion vectors and widens narrow files, and the path load
    * keeps PHYSICAL names (files store birth names whatever wrote them,
    * so column mapping needs no translation). Its schema is the union
    * of the snapshot's footers (a pre-evolution file null-fills a
    * catalog-ADDed column), read as the files store it — VARIANT stays
    * its framed BINARY, copied byte for byte. A row-tracking table
    * rewrites WITH its ids: the rewrite reorders and renames files, so
    * `base + position` no longer addresses the original rows — each
    * row's id MATERIALIZES as the physical `_graft_row_id` column
    * (Delta's materialized row-id contract; the scan serves derived AND
    * already-materialized ids through `_row_id`), and the commit
    * funnel flags the new files so readers serve the column. `only`
    * restricts the scan to those data files, pruned by `_file` before
    * any footer read. */
  private def storedRows(spark: SparkSession, root: String, v: Long,
                         only: Option[Seq[Path]] = None): DataFrame = {
    val d = spark.read.format("graft-versioned")
      .schema(graft.sources.VersionedDataWriter.fileSchema(
        readSnapshot(spark, root, v).schema))
      .option("versionAsOf", v.toString).load(root)
    val rows = only.fold(d)(fs => d.filter(col("_file").isin(fs.map(_.toString): _*)))
    if (!RowIds.enabled(root)) rows
    else rows.select(col("*"), col("_row_id").as(RowIds.MaterializedCol),
      col("_row_commit_version").as(RowIds.MaterializedVerCol))
  }

  /** Shared rewrite half of [[compactSmall]]/[[compactWhere]]: read the
    * LIVE rows of exactly `selected` ([[storedRows]]), re-cut them at
    * the byte target (re-clustered when the table has a layout
    * contract), and land the swap as a row-level commit — untouched
    * files hard-link, concurrent disjoint row-level commits rebase. */
  private def rewriteFiles(spark: SparkSession, root: String, v: Long,
                           selected: Seq[Path], targetFileBytes: Long,
                           clusterBy: Seq[String],
                           stamp: Option[Long]): Long = {
    val smalls = selected
    val names = smalls.map(_.getFileName.toString).toSet
    val live = storedRows(spark, root, v, Some(smalls))
    val bytes = smalls.map(Files.size).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val rewritten =
      if (clusterBy.nonEmpty)
        live.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else live.coalesce(nFiles)
    val staged = Files.createTempDirectory(Paths.get(root), "_staging_binpack_")
    rewritten.write.mode("overwrite").parquet(staged.toString)
    VersionedWriteIo.commitRowLevel(root, staged,
      org.apache.spark.sql.types.StructType(rewritten.schema.fields), v, names,
      VersionedWriteIo.stampValue(stamp))
  }

  // ----------------------------------------- protocol feature flags

  /** Table-level PROTOCOL (`_graft_protocol`): the reader features a
    * build MUST understand to read this table correctly — Delta's
    * `readerFeatures` contract. Without it, an older engine build
    * pointed at a table whose commits use a newer representation
    * (deletion vectors it would ignore, a column mapping it would
    * bypass) returns WRONG ROWS silently; with it, the same read fails
    * loudly naming the missing feature. Line format: `reader <name>`.
    * Unknown non-`reader` lines are ignored (forward-compatible
    * metadata) — a future writer adding reader-affecting semantics is
    * obligated to flag them with a `reader` line, which THIS build then
    * refuses. Absent file = no requirements (the common case). */
  private[graft] val ProtocolFile = "_graft_protocol"

  /** Reader features this build implements. A table requiring anything
    * outside this set is unreadable here by [[checkProtocol]]. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletion-vectors", "column-mapping", "type-widening")

  /** Features the table's protocol file requires of readers. */
  def readerFeatures(root: String): Set[String] =
    protocolLines(root).collect {
      case l if l.startsWith("reader ") => l.drop(7).trim
    }.filter(_.nonEmpty).toSet

  private def protocolLines(root: String): Seq[String] = {
    val p = Paths.get(root, ProtocolFile)
    if (!Files.exists(p)) Seq.empty
    else new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.toSeq
  }

  // protocol mutations are read-modify-write over one small file — the
  // same discipline as the tags file: serialize within the driver JVM
  // and publish via temp + atomic rename, so two concurrent commits
  // flagging DIFFERENT features can't lose one, and a reader can never
  // observe a truncated protocol (a lost deletion-vectors flag would
  // let an older build silently resurrect deleted rows — the exact
  // failure the protocol exists to prevent)
  private val protocolLock = new Object

  private def writeProtocol(root: Path, lines: Seq[String]): Unit = {
    val p = root.resolve(ProtocolFile)
    if (lines.isEmpty) { Files.deleteIfExists(p); return }
    val tmp = Files.createTempFile(root, "_graft_protocol_", ".tmp")
    Files.write(tmp, lines.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Writer-side: record that the table now needs `feature` to be read
    * correctly. Idempotent. Called BEFORE the data using the feature
    * becomes visible (inside [[writeFilesManifest]], which runs in the
    * staging dir ahead of the atomic publish move), so no reader can
    * observe feature-bearing data without the flag. Over-requirement
    * after an aborted commit is safe: this build supports the feature,
    * and the flag never changes row content. */
  private[graft] def requireReaderFeature(root: Path, feature: String): Unit =
    protocolLock.synchronized {
      require(SupportedReaderFeatures.contains(feature),
        s"graft-versioned: writer flagged unknown reader feature '$feature'")
      val cur = protocolLines(root.toString)
      val line = s"reader $feature"
      if (!cur.contains(line)) writeProtocol(root, cur :+ line)
    }

  /** Drop a reader-feature requirement (Delta's `ALTER TABLE DROP
    * FEATURE` shape) — legal only when NO surviving version still uses
    * the representation, because the flag protects time travel too:
    * for `deletion-vectors` every surviving version dir must be free
    * of DV sidecars (compact materializes the current one; retention
    * ages out flagged history). Refusals name the blocking versions.
    * `column-mapping` has an extra catalog-side condition (the mapping
    * file itself) checked by the procedure before calling this. */
  private[graft] def dropReaderFeature(root: String, feature: String): Unit =
    protocolLock.synchronized {
      val cur = readerFeatures(root)
      require(cur.contains(feature),
        s"graft-versioned: '$feature' is not a required reader feature " +
          s"of $root (required: ${cur.toSeq.sorted.mkString(", ")})")
      if (feature == "deletion-vectors") {
        val blocking = versions(root).filter(v =>
          DeletionVectors.dvMap(Paths.get(root, s"v=$v")).nonEmpty)
        require(blocking.isEmpty,
          "graft-versioned: cannot drop 'deletion-vectors' — surviving " +
            s"version(s) ${blocking.mkString("v=", ", v=", "")} still " +
            "carry DV sidecars; compact the current version and age out " +
            "or retain away the flagged history first")
      }
      // a feature drops from BOTH sides at once (Delta's DROP FEATURE
      // contract): a table no reader needs DVs for has no business
      // demanding DV-aware writers either
      writeProtocol(Paths.get(root), protocolLines(root)
        .filterNot(l => l == s"reader $feature" || l == s"writer $feature"))
    }

  // ------------------------------------------- writer-feature protocol

  /** Writer features this build can MAINTAIN. A table requiring
    * anything outside this set refuses writes here ([[checkWriteProtocol]])
    * — Delta's `writerFeatures` half of the protocol: a reader-only
    * feature protects reads, a writer feature protects the table's
    * INVARIANTS from a foreign or older build extending it with commits
    * that don't maintain them (constraints left unchecked, a column
    * mapping bypassed, an append-only promise broken). */
  val SupportedWriterFeatures: Set[String] =
    Set("deletion-vectors", "column-mapping", "check-constraints",
      "append-only", "type-widening", "row-tracking")

  /** Features the table's protocol file requires of writers. */
  def writerFeatures(root: String): Set[String] =
    protocolLines(root).collect {
      case l if l.startsWith("writer ") => l.drop(7).trim
    }.filter(_.nonEmpty).toSet

  /** Record that COMMITTING to this table now requires `feature` to be
    * maintained. Idempotent; same atomic-publish discipline as the
    * reader half. */
  private[graft] def requireWriterFeature(root: Path, feature: String): Unit =
    protocolLock.synchronized {
      require(SupportedWriterFeatures.contains(feature),
        s"graft-versioned: flagged unknown writer feature '$feature'")
      val cur = protocolLines(root.toString)
      val line = s"writer $feature"
      if (!cur.contains(line)) writeProtocol(root, cur :+ line)
    }

  /** Drop a writer-feature requirement alone (the reader half, if any,
    * stays). Legal only when the invariant it protects is gone — the
    * caller (the catalog's drop_feature procedure) checks that; this
    * just edits the file atomically. */
  private[graft] def dropWriterFeature(root: String, feature: String): Unit =
    protocolLock.synchronized {
      val cur = writerFeatures(root)
      require(cur.contains(feature),
        s"graft-versioned: '$feature' is not a required writer feature " +
          s"of $root (required: ${cur.toSeq.sorted.mkString(", ")})")
      writeProtocol(Paths.get(root),
        protocolLines(root).filterNot(_ == s"writer $feature"))
    }

  /** Writer-side gate, run at every commit funnel: a required writer
    * feature this build cannot maintain fails the WRITE loudly — a
    * commit that silently breaks the table's invariants is never an
    * option. (Reading such a table stays legal: writer features gate
    * commits, not scans.) */
  def checkWriteProtocol(root: String): Unit = {
    val unknown = writerFeatures(root) -- SupportedWriterFeatures
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"graft-versioned: table at $root requires writer feature(s) " +
          unknown.toSeq.sorted.mkString("'", "', '", "'") +
          " this build does not support (supported: " +
          SupportedWriterFeatures.toSeq.sorted.mkString(", ") +
          ") — refusing to commit rather than break the table's invariants")
  }

  /** Reader-side gate, run at every table resolution (DSv2 table
    * construction and the path-API snapshot read): required features
    * this build lacks fail the read loudly — wrong results are never an
    * option. */
  def checkProtocol(root: String): Unit = {
    val unknown = readerFeatures(root) -- SupportedReaderFeatures
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"graft-versioned: table at $root requires reader feature(s) " +
          unknown.toSeq.sorted.mkString("'", "', '", "'") +
          " this build does not support (supported: " +
          SupportedReaderFeatures.toSeq.sorted.mkString(", ") +
          ") — refusing to read rather than risk wrong results")
  }

  // -------------------------------------------- commit file manifests

  /** Per-commit FILE MANIFEST (`_graft_files`): the authoritative list
    * of the version's data files and DV sidecars, written by the commit
    * itself. Readers resolve a snapshot's files from the manifest
    * instead of globbing the directory — a stray/alien file dropped
    * into `v=N` (a crashed task's orphan, an operator mistake) is
    * INVISIBLE, and at object-store scale the per-read directory
    * listing disappears (the Delta-log contract: the log names the
    * files, the store never gets LISTed on the read path). Line format:
    * a first `c {json}` line holding the version's [[CommitRecord]]
    * (read on its own, whatever the file count), then `f <name>` per
    * data file and `d <name>` per deletion-vector sidecar. */
  private[graft] val FilesManifest = "_graft_files"

  /** One version's COMMIT RECORD — the Delta log entry's commitInfo
    * and txn actions: written as the first line of the version's
    * [[FilesManifest]] into staging before each claim, so the claim
    * publishes the commit's facts together with its data, and a
    * version's facts are final the moment it is visible. Every field
    * is optional; JSON keys: `ts` the commit stamp (micros for DSv2
    * commits, the caller's `commitTs` for the path API), `replaced`
    * the file set a row-level commit replaced (the evidence
    * [[graft.sources.VersionedWriteIo.commitRowLevel]]'s rebase
    * reads), `epoch` a streaming epoch's `queryId:epochId` replay tag,
    * `txnApp`/`txnVersion` an application transaction, `msg` the
    * commit message. A version without a record (a pre-manifest dir)
    * reads as the empty record. The op kind is not stored: [[op]]
    * derives it from the fields. */
  private[graft] case class CommitRecord(
      stamp: Option[Long] = None,
      replaced: Option[Set[String]] = None,
      epoch: Option[String] = None,
      txn: Option[(String, Long)] = None,
      message: Option[String] = None) {

    /** `sys.history`'s operation: rowlevel > stream-epoch > txn-write > write. */
    def op: String =
      if (replaced.isDefined) "rowlevel"
      else if (epoch.isDefined) "stream-epoch"
      else if (txn.isDefined) "txn-write"
      else "write"

    private[Versioned] def line: String = {
      val o = jsonMapper.createObjectNode()
      stamp.foreach(o.put("ts", _))
      replaced.foreach { r =>
        val a = o.putArray("replaced")
        r.toSeq.sorted.foreach(a.add)
      }
      epoch.foreach(o.put("epoch", _))
      txn.foreach { case (app, v) => o.put("txnApp", app); o.put("txnVersion", v) }
      message.foreach(o.put("msg", _))
      "c " + jsonMapper.writeValueAsString(o)
    }
  }

  private[graft] object CommitRecord {
    private[Versioned] def parse(json: String): CommitRecord = {
      val o = jsonMapper.readTree(json)
      def text(k: String) = Option(o.get(k)).map(_.textValue())
      CommitRecord(
        Option(o.get("ts")).map(_.longValue()),
        Option(o.get("replaced")).map { a =>
          import scala.jdk.CollectionConverters._
          a.elements().asScala.map(_.textValue()).toSet
        },
        text("epoch"),
        text("txnApp").map(_ -> o.get("txnVersion").longValue()),
        text("msg"))
    }
  }

  /** The commit record of v=`version` (the empty record when it has none). */
  private[graft] def commitRecord(root: String, version: Long): CommitRecord = {
    val m = Paths.get(root, s"v=$version", FilesManifest)
    if (!Files.exists(m)) CommitRecord()
    else {
      val in = Files.newBufferedReader(m, java.nio.charset.StandardCharsets.UTF_8)
      val first = try in.readLine() finally in.close()
      if (first != null && first.startsWith("c ")) CommitRecord.parse(first.drop(2))
      else CommitRecord()
    }
  }

  private[graft] def writeFilesManifest(vdir: Path, dataNames: Seq[String],
                                        dvNames: Seq[String],
                                        statsFrom: Option[Path],
                                        record: CommitRecord): Unit = {
    // EVERY commit funnels through this manifest write (the one
    // commit routine, VersionedWriteIo.commit, writes it into the
    // staging dir before each claim) — so this is where the
    // writer-feature gate runs:
    // a table whose invariants this build cannot maintain refuses the
    // commit before anything becomes visible
    checkWriteProtocol(vdir.getParent.toString)
    // stats sidecar FIRST: the files manifest is the commit's visibility
    // point for manifest-resolved readers, so "manifest present ⇒ stats
    // present" survives a crash between the two writes. `statsFrom`
    // carries stats lines forward for hard-linked (name-stable) files —
    // commit cost stays O(new files) even when the version carries a
    // 100k-file table. Readers treat an absent sidecar as "no pruning".
    FileStats.write(vdir, dataNames, statsFrom)
    // row-tracking tables: assign/carry per-file row-id bases BEFORE
    // the manifest (visibility point), reading row counts and
    // materialized-column presence from the stats sidecar just written.
    // `statsFrom` is the same carry source stats use — restore, clone
    // and row-level commits preserve ids because their carried files
    // keep their entries verbatim.
    if (RowIds.enabled(vdir.getParent.toString))
      RowIds.commit(vdir.getParent, vdir, dataNames, statsFrom)
    // DV sidecars change what a correct read IS — flag the requirement
    // before the manifest (= the commit's visibility point) exists.
    // Staging dirs live inside the table root, so the parent is the
    // root on every batch call path.
    // Writers need the flag too: a DV-blind build appending to (or
    // compacting) this table would drop or resurrect the DV'd rows.
    if (dvNames.nonEmpty) {
      requireReaderFeature(vdir.getParent, "deletion-vectors")
      requireWriterFeature(vdir.getParent, "deletion-vectors")
    }
    Files.write(vdir.resolve(FilesManifest),
      (record.line +: (dataNames.sorted.map("f " + _) ++ dvNames.sorted.map("d " + _)))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** (data file names, dv sidecar names) from the manifest, or None for
    * a pre-manifest version dir (falls back to directory listing). */
  private[graft] def manifestEntries(vdir: Path): Option[(Seq[String], Seq[String])] = {
    val m = vdir.resolve(FilesManifest)
    if (!Files.exists(m)) None
    else {
      val lines = new String(Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
      Some((lines.collect { case l if l.startsWith("f ") => l.drop(2) },
        lines.collect { case l if l.startsWith("d ") => l.drop(2) }))
    }
  }

  /** Raw directory listing of `*.parquet` (skips _SUCCESS/manifests) —
    * the staging-dir and pre-manifest fallback path. */
  private[graft] def listParquet(vdir: Path): Seq[Path] = {
    if (!Files.exists(vdir)) return Seq.empty
    val stream = Files.list(vdir)
    try {
      val it = stream.iterator()
      var acc = List.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) acc ::= f
      }
      acc
    } finally stream.close()
  }

  /** Parquet data files of one version dir: manifest-resolved when the
    * commit wrote one (stray files invisible, no listing), directory
    * listing otherwise. A manifest naming a missing file is corruption
    * and fails loudly — silently reading a partial snapshot would be
    * data loss. */
  private[graft] def dataFiles(vdir: Path): Seq[Path] =
    manifestEntries(vdir) match {
      case Some((names, _)) => names.map { n =>
        val p = vdir.resolve(n)
        require(Files.exists(p),
          s"graft-versioned: manifest of $vdir lists missing data file " +
            s"'$n' — the commit is corrupt")
        p
      }
      case None => listParquet(vdir)
    }

  // ------------------------------------------------------- change feed

  /** Versions with a stored change feed, ascending. The feed lives under
    * `root/_changes/v=<n>` (underscore-prefixed so Spark's file index
    * skips it on snapshot reads). */
  def feedVersions(root: String): Seq[Long] = {
    val p = Paths.get(root, "_changes")
    if (!Files.exists(p)) Seq.empty
    else {
      val stream = Files.list(p)
      try {
        val it = stream.iterator()
        var acc = List.empty[Long]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("v=")) acc ::= n.drop(2).toLong
        }
        acc.sorted
      } finally stream.close()
    }
  }

  def feedDir(root: String, version: Long): String =
    s"$root/_changes/v=$version"

  /** The columns of a stored feed over `cols` (the feed keys, then the
    * payload columns, in table order): the keys, `change_type`,
    * `commit_version`, then the payload's `old_` and `new_` images. */
  private[graft] def feedSchema(cols: StructType, keys: Seq[String]): StructType = {
    val payload = cols.fields.filterNot(f => keys.contains(f.name)).toSeq
    StructType(keys.map(cols(_)) ++ Seq(
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("commit_version",
        org.apache.spark.sql.types.LongType)) ++
      payload.map(f => f.copy(name = s"old_${f.name}")) ++
      payload.map(f => f.copy(name = s"new_${f.name}")))
  }

  /** A fresh root-level dir to assemble one feed in. The `_staging_`
    * prefix keeps an orphan (a crash before [[publishFeed]]) visible
    * to the staging sweep and fsck, and outside `_changes`. */
  private[graft] def stageFeed(root: String): Path =
    Files.createTempDirectory(Paths.get(root), "_staging_feed_")

  /** Publish the feed assembled in `staged` as `_changes/v=<version>`:
    * write its files manifest, then ONE rename — a reader never sees
    * the feed dir without its manifest. A feed left under the same
    * version (its version rolled back, then re-committed) is
    * replaced. */
  private[graft] def publishFeed(root: String, version: Long, staged: Path): Unit = {
    val names = listParquet(staged).map(_.getFileName.toString).sorted
    Files.write(staged.resolve(FilesManifest), names.map("f " + _).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val target = Paths.get(feedDir(root, version))
    Files.createDirectories(target.getParent)
    deleteRecursively(target)
    Files.move(staged, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** [[writeNext]] + a STORED change feed: the keyed diff against the
    * previous version (added/removed/changed with old_/new_ payloads,
    * [[Cdc.snapshotDiff]]) lands under `root/_changes/v=<n>` in the same
    * commit — the Delta CDF contract that makes the change feed a
    * STREAMABLE source (computing diffs inside a streaming reader would
    * need a join per batch; storing them at write time makes each commit
    * a file listing). The initial version's feed is all-'added'. Feed
    * rows carry `commit_version` so a multi-commit batch stays
    * attributable. The diff is derived from the rows the commit changed
    * ([[writeFeedFor]]); `df`'s schema types the feed columns.
    */
  def writeNextWithFeed(df: DataFrame, root: String, keys: Seq[String],
                        payload: Seq[String],
                        commitTs: Option[Long] = None): Long = {
    val next = writeNext(df, root, commitTs)
    writeFeedFor(df.sparkSession, root, next, df.schema, keys, payload)
    next
  }

  /** Derive and store the change feed of an ALREADY-COMMITTED version:
    * the keyed diff against the previous surviving version ('added' /
    * 'changed' / 'removed' with old_/new_ payload), or all-'added' for
    * a first commit. Factored out of [[writeNextWithFeed]] so DSv2/SQL
    * commits (INSERT, UPDATE, MERGE, DELETE on a `changeFeedKeys`
    * table), streaming epochs and the catalog's RESTORE/CLONE emit the
    * same feed the streaming change-feed source drains. A
    * merge-on-read MERGE/UPDATE/DELETE and a DV DELETE write their feed
    * from their own tasks instead ([[graft.sources.TaskFeed]]) and
    * come here only when that feed cannot be exact — its second Spark
    * query is what the task-written feed saves.
    *
    * The feed is derived from what the commit CHANGED, not from the two
    * snapshots: [[graft.sources.CommitImages]] diffs the two manifests
    * and reads the before images (rows the commit took away) and after
    * images (rows it made live) by file and position, typed by `schema`
    * — the caller's table schema in LOGICAL names (`colMap` maps them to
    * the physical ones files store), so nothing is inferred. Only a
    * commit with both kinds (an UPDATE, a MERGE, an overwrite, a
    * restore) pairs them by key; a DV DELETE's rows are all 'removed'
    * and an append's all 'added', with no join. Paired sides are
    * coalesced to one partition each, so the join needs no exchange and
    * the whole feed is one Spark job; its input is the changed rows on
    * a deletion-vector table and the rewritten files on a copy-on-write
    * one.
    *
    * ONE LIVE ROW PER KEY: the feed equals `Cdc.snapshotDiff` of the two
    * snapshots whenever the feed keys pick out at most one live row per
    * version — the only case in which a keyed diff is defined at all.
    * Under that rule a key whose row the commit removed and did not
    * re-add is gone after it, and a key it added was absent before.
    *
    * The feed is assembled in a root-level `_staging_feed_*` dir and
    * published with its manifest by one rename ([[publishFeed]]). */
  def writeFeedFor(spark: SparkSession, root: String, version: Long,
                   schema: StructType, keys: Seq[String], payload: Seq[String],
                   colMap: Map[String, String] = Map.empty): Unit = {
    val missing = (keys ++ payload).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"change feed column(s) ${missing.mkString(", ")} are not in the " +
        s"table schema of $root")
    // every image column reads nullable: a write schema may mark a
    // column non-null that older rows of the table hold nulls in
    val cols = StructType((keys ++ payload).map(schema(_).copy(nullable = true)))
    val prev = versions(root).filter(_ < version).lastOption
    def typed(c: String) = lit(null).cast(cols(c).dataType)
    // an unpaired side: every row is an addition or a removal
    def oneSided(df: DataFrame, changeType: String): DataFrame = {
      val removed = changeType == "removed"
      df.select(keys.map(col) ++ Seq(lit(changeType).as("change_type")) ++
        payload.map(c => (if (removed) col(c) else typed(c)).as(s"old_$c")) ++
        payload.map(c => (if (removed) typed(c) else col(c)).as(s"new_$c")): _*)
    }
    val feed = graft.sources.CommitImages.of(spark, root, prev, version, cols, colMap) match {
      case (Some(before), Some(after)) =>
        Cdc.snapshotDiff(before.coalesce(1), after.coalesce(1), keys, payload)
      case (Some(before), None) => oneSided(before, "removed")
      case (None, Some(after)) => oneSided(after, "added")
      case (None, None) =>
        oneSided(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cols), "added")
    }
    // feed dirs get a files manifest like version dirs do: one listing
    // at write time makes every feed read (batch CDF range scan,
    // streaming drain, byte-budget admission) manifest-resolved — a
    // stray parquet file (a task retry's orphan Spark's committer
    // missed, an operator mistake) can never REPLAY A PHANTOM CHANGE.
    // The feed is assembled under staging and published with its
    // manifest by one rename ([[publishFeed]]).
    val staged = stageFeed(root)
    try {
      feed.withColumn("commit_version", lit(version))
        .select(feedSchema(cols, keys).fieldNames.toSeq.map(col): _*)
        .write.mode("overwrite").parquet(staged.toString)
      publishFeed(root, version, staged)
    } catch { case e: Throwable => deleteRecursively(staged); throw e }
  }

  /** Read the current (or a pinned) version. Files resolve through the
    * commit manifest (stray files invisible, no directory listing) and
    * deletion vectors apply ([[readSnapshot]]). */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(root))
      .getOrElse(throw new IllegalStateException(s"no versions under $root"))
    readSnapshot(spark, root, v)
  }

  /** THE snapshot read every lifecycle op routes through: the
    * `graft-versioned` scan, which checks the protocol, names the files
    * from the commit manifest (a stray `.parquet` planted in `v=N` is
    * invisible; pre-manifest dirs fall back to listing), skips DV'd
    * rows, widens pre-widening files, restores VARIANT columns and
    * hides the materialized row-tracking carriers. Column names are
    * PHYSICAL (no column map is passed). Compaction, restore
    * validation and the public [[read]] all agree on what a snapshot IS
    * because they all call this. */
  def readSnapshot(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.format("graft-versioned")
      .option("versionAsOf", version.toString).load(root)

  /** RESTORE: make an OLD snapshot current again as a NEW commit
    * (Delta's `RESTORE TABLE … TO VERSION AS OF`) — unlike [[rollback]]
    * nothing is deleted, so the restored-over versions stay
    * addressable. FILE-LEVEL: the new version hard-links the target
    * version's immutable files (O(files), no data copy, no Spark job)
    * and carries a fresh commit stamp so time travel keeps working.
    * Returns the new current version. */
  def restoreTo(root: String, version: Long,
                commitTs: Option[Long] = None): Long = {
    val src = Paths.get(root, s"v=$version")
    require(Files.isDirectory(src),
      s"restoreTo: version $version does not exist under $root " +
        s"(existing: ${versions(root).mkString(", ")})")
    val staged = Files.createTempDirectory(Paths.get(root), "_staging_restore_")
    // hard-links keep file names, so the restored manifest lists the
    // same names the source manifest did (plus its DV sidecars); a
    // racing commit only moves the restore to the version after it
    VersionedWriteIo.commit(root, staged,
        CommitRecord(stamp = Some(VersionedWriteIo.stampValue(commitTs)))) { _ =>
      VersionedWriteIo.Carry(dataFiles(src),
        DeletionVectors.carryAll(src, staged), Some(src))
    }
  }

  /** SHALLOW CLONE: materialize a snapshot of `srcRoot` (the CURRENT
    * one, or an explicit `srcVersion` — e.g. a tag-resolved training
    * snapshot, "branch from train-v1") as version 0 of a fresh
    * `dstRoot` — hard-links again, O(files). History does not transfer
    * (the clone starts its own); the immutable-file discipline is what
    * makes sharing safe. */
  def cloneTo(srcRoot: String, dstRoot: String,
              commitTs: Option[Long] = None,
              srcVersion: Option[Long] = None): Unit = {
    // cloning a representation this build can't read would propagate
    // files whose sidecar kinds the carry logic doesn't know about
    checkProtocol(srcRoot)
    srcVersion.foreach(v => require(
      Files.isDirectory(Paths.get(srcRoot, s"v=$v")),
      s"cloneTo: version $v does not exist under $srcRoot " +
        s"(existing: ${versions(srcRoot).mkString(", ")})"))
    val srcV = srcVersion.orElse(latestVersion(srcRoot))
      .getOrElse(throw new IllegalStateException(
        s"cloneTo: no versions under $srcRoot"))
    val src = Paths.get(srcRoot, s"v=$srcV")
    val dst = Paths.get(dstRoot)
    Files.createDirectories(dst)
    val staged = Files.createTempDirectory(dst, "_staging_clone_")
    VersionedWriteIo.commit(dstRoot, staged,
        CommitRecord(stamp = Some(VersionedWriteIo.stampValue(commitTs)))) { base =>
      require(base.isEmpty, s"cloneTo: destination $dstRoot already has versions")
      // the clone inherits every protocol requirement of the source —
      // shared immutable files mean shared representation (and shared
      // invariants on the writer side). Inherited BEFORE the manifest
      // funnel runs: the funnel consults the DESTINATION's features to
      // decide which sidecars to carry (a row-tracking clone must carry
      // the source's row-id entries into its v=0, or `_row_id` reads on
      // the clone would refuse)
      readerFeatures(srcRoot).foreach(requireReaderFeature(dst, _))
      writerFeatures(srcRoot).foreach(requireWriterFeature(dst, _))
      VersionedWriteIo.Carry(dataFiles(src),
        DeletionVectors.carryAll(src, staged), Some(src))
    }
  }

  /** CONVERT-in-place (Delta's `CONVERT TO DELTA` shape): register an
    * existing directory of parquet files as version 0 of a fresh
    * versioned root — O(files) METADATA work, zero data rewrite. Each
    * source file hard-links into a staged v=0 (the same-filesystem
    * analog of an object-store metadata pointer; a cross-device source
    * falls back to a copy rather than failing the onboarding), the
    * commit manifest + stats sidecar derive from footers alone, and one
    * claim publishes. At 100 TB this is the difference between
    * onboarding a lake in footer-read time and re-writing every byte
    * through a cluster.
    *
    * `validateFile` runs per source file BEFORE anything is staged —
    * the caller's chance to refuse files whose footer schema the table
    * contract cannot read ([[graft.sources.GraftCatalog]]'s convert
    * procedure passes a MessageType compatibility check). Any failure
    * aborts: conversion is all-or-nothing, and the source directory is
    * never touched. */
  def convertFrom(srcDir: String, dstRoot: String,
                  validateFile: Path => Unit = _ => (),
                  commitTs: Option[Long] = None): Long = {
    val src = Paths.get(srcDir)
    require(Files.isDirectory(src),
      s"convertFrom: source $srcDir is not a directory")
    val files = listParquet(src).sortBy(_.getFileName.toString)
    require(files.nonEmpty,
      s"convertFrom: no *.parquet files under $srcDir — nothing to convert")
    def refuseVersioned(base: Option[Long]): Unit = require(base.isEmpty,
      s"convertFrom: destination $dstRoot already has versions")
    refuseVersioned(latestVersion(dstRoot))
    val dst = Paths.get(dstRoot)
    Files.createDirectories(dst)
    val staged = Files.createTempDirectory(dst, "_staging_convert_")
    try {
      // validation (a footer read each) and linking are independent
      // per file and latency-bound — run them in parallel so a
      // 100k-file onboarding is bounded by pool width, not file count
      import FileStats.ParMap
      files.toArray.par { f =>
        validateFile(f)
        VersionedWriteIo.linkOrCopy(f, staged.resolve(f.getFileName))
      }
    } catch { case e: Throwable => deleteRecursively(staged); throw e }
    // the staged files never depend on the base: a lost claim retries
    // as is, a rival's v=0 refuses the convert
    VersionedWriteIo.commit(dstRoot, staged,
        CommitRecord(stamp = Some(VersionedWriteIo.stampValue(commitTs)))) { base =>
      refuseVersioned(base)
      VersionedWriteIo.Carry()
    }
  }

  /** METADATA INTEGRITY CHECK (`CALL sys.fsck`) — walk every version's
    * commit metadata and report inconsistencies WITHOUT throwing: each
    * row is (version, check, n_bad, detail). Driver-side and
    * metadata-only — manifests, sidecar line counts and file existence
    * probes; never a data byte — so a 100 TB table fscks in O(files)
    * name operations. Checks: manifest-listed data files and DV
    * sidecars exist on disk; the stats / row-id sidecars (when
    * present) cover every data file; parquet files not in the
    * manifest (crashed-attempt leftovers — harmless, reported);
    * root-level staging leftovers; the latest hint not pointing past
    * the real latest. Root-level checks report under version -1. */
  def fsck(root: String): Seq[(Long, String, Long, String)] = {
    val out = Seq.newBuilder[(Long, String, Long, String)]
    versionDirs(root).foreach { case (v, vdir) =>
      manifestEntries(vdir) match {
        case Some((dataNames, dvNames)) =>
          val missingData = dataNames.filterNot(n =>
            Files.exists(vdir.resolve(n)))
          out += ((v, "manifest-data-files", missingData.size.toLong,
            missingData.take(3).mkString(", ")))
          val missingDv = dvNames.filterNot(n => Files.exists(
            vdir.resolve(DeletionVectors.DvDirName).resolve(n)))
          out += ((v, "manifest-dv-files", missingDv.size.toLong,
            missingDv.take(3).mkString(", ")))
          val onDisk = listParquet(vdir).map(_.getFileName.toString).toSet
          val unlisted = onDisk -- dataNames.toSet
          out += ((v, "unlisted-files", unlisted.size.toLong,
            unlisted.take(3).mkString(", ")))
          val stats = FileStats.read(vdir)
          if (stats.nonEmpty) {
            val uncovered = dataNames.filterNot(stats.contains)
            out += ((v, "stats-coverage", uncovered.size.toLong,
              uncovered.take(3).mkString(", ")))
          }
          RowIds.read(vdir).foreach { case (_, entries) =>
            val uncovered = dataNames.filterNot(entries.contains)
            out += ((v, "rowid-coverage", uncovered.size.toLong,
              uncovered.take(3).mkString(", ")))
          }
        case None =>
          out += ((v, "manifest-present", 1L,
            "pre-manifest version (directory listing serves reads)"))
      }
    }
    // root-level facts
    val staging = {
      val p = Paths.get(root)
      if (!Files.isDirectory(p)) Seq.empty[String]
      else {
        val stream = Files.list(p)
        try {
          val it = stream.iterator()
          var acc = List.empty[String]
          while (it.hasNext) {
            val f = it.next()
            if (f.getFileName.toString.startsWith("_staging"))
              acc ::= f.getFileName.toString
          }
          acc
        } finally stream.close()
      }
    }
    out += ((-1L, "staging-leftovers", staging.size.toLong,
      staging.take(3).mkString(", ")))
    val hintBad = readLatestHint(root) match {
      case Some(h) if !Files.isDirectory(Paths.get(root, s"v=$h")) =>
        Seq(s"hint v=$h has no directory")
      case _ => Seq.empty
    }
    out += ((-1L, "latest-hint", hintBad.size.toLong,
      hintBad.mkString(", ")))
    out.result().sortBy(r => (r._1, r._2))
  }

  /** S13 rollback: drop the newest version so the previous one is current
    * again (the old-data→last-data restore path). A stored change feed
    * for the dropped version goes with it — a feed row for a commit
    * that no longer exists would replay a phantom change. */
  def rollback(root: String): Option[Long] = {
    val dirs = versionDirs(root)
    dirs.lastOption.foreach { case (v, p) =>
      // a tag is a reproducibility promise — rollback must not break it
      // silently; untag first if the drop is intended
      tags(root).find(_._2 == v).foreach { case (n, _) =>
        throw new IllegalStateException(
          s"graft-versioned: cannot roll back v=$v — it is tagged '$n'; " +
            "drop the tag first if the version really should go")
      }
      deleteRecursively(p)
      deleteRecursively(Paths.get(feedDir(root, v)))
      // a later commit may REUSE this version number — drop any
      // checkpoint rows memoizing the dead commit's facts
      truncateCheckpoint(root, v)
    }
    val cur = versionDirs(root).lastOption.map(_._1)
    // re-point the latest hint below the deleted version (a stale-high
    // hint only costs a listing fallback, but keep it truthful)
    cur match {
      case Some(v) => writeLatestHint(root, v)
      case None => Files.deleteIfExists(Paths.get(root, LatestHint))
    }
    cur
  }

  /** O3/S14 retention: keep the newest `keep` versions
    * (utils_of_backup.py:155-164 keeps 3 dated backups). TAGGED
    * versions always survive (the Iceberg tag contract): a tag is a
    * named reproducibility anchor — "the snapshot train-v1 was built
    * from" — and a retention sweep silently deleting it would be data
    * loss wearing a maintenance hat.
    *
    * TIME-BASED retention (`beforeStamp`, Delta's `RETAIN <interval>`
    * / the reference's dated-prefix retention): when given, a version
    * beyond the keep floor is deleted ONLY if its commit stamp is
    * strictly below the horizon — count-based keep=N alone deletes a
    * week of history under a burst of commits, the exact failure a
    * retention contract exists to prevent. Stamps (epoch micros, the
    * `TIMESTAMP AS OF` space) are the age source; UNSTAMPED versions
    * are never age-deleted (their age cannot be proven). Age-mode
    * deletions can leave holes in the version sequence — readers
    * resolve the surviving set by listing, and the latest-hint probe
    * is unaffected (holes only ever form below the current version). */
  def applyRetention(root: String, keep: Int = 3,
                     beforeStamp: Option[Long] = None): Seq[Long] = {
    val dirs = versionDirs(root)
    val tagged = tags(root).values.toSet
    val candidates = dirs.dropRight(keep).filterNot(d => tagged.contains(d._1))
    val toDrop = beforeStamp match {
      case None => candidates
      case Some(cut) =>
        val cp = readCheckpoint(root)
        candidates.filter { case (v, _) =>
          commitInfoFast(root, v, cp).ts.exists(_ < cut) }
    }
    toDrop.foreach { case (v, p) =>
      deleteRecursively(p)
      deleteRecursively(Paths.get(feedDir(root, v)))
    }
    versionDirs(root).map(_._1)
  }

  // ------------------------------------------------------- version tags

  /** Named snapshot refs (`_graft_tags`) — Iceberg's TAG contract, the
    * reproducibility anchor a training pipeline needs ("the exact
    * corpus train-v1 saw"): a tag binds a NAME to a version, reads
    * resolve `versionAsOf`/`VERSION AS OF` by name, retention never
    * deletes a tagged version, and rollback refuses to drop one. Tags
    * are immutable bindings: re-tagging an existing name fails loudly
    * (drop + re-create to move it — an explicit two-step, never a
    * silent repoint). File format: `name<SP>version` per line, names
    * are identifier-shaped so a tag can never parse as a version. */
  private val TagsFile = "_graft_tags"

  /** All tags of `root`, name → version. */
  def tags(root: String): Map[String, Long] = {
    val p = Paths.get(root, TagsFile)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.lastIndexOf(' ')
        l.take(i) -> l.drop(i + 1).toLong
      }.toMap
  }

  // tag mutations are read-modify-write over one small file: serialize
  // them within the driver JVM (admin verbs, one driver in practice)
  // and publish via temp + atomic rename so a crash mid-write can
  // never leave a torn tag file behind
  private val tagsLock = new Object

  private def writeTags(root: String, ts: Map[String, Long]): Unit = {
    val p = Paths.get(root, TagsFile)
    if (ts.isEmpty) { Files.deleteIfExists(p); return }
    val tmp = Files.createTempFile(p.getParent, "_graft_tags_", ".tmp")
    Files.write(tmp, ts.toSeq.sorted.map { case (n, v) => s"$n $v" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Bind `name` to `version` (default: current latest). Loud on a
    * malformed name, a missing version, or an existing binding. */
  def tagVersion(root: String, name: String,
                 version: Option[Long] = None): Long = tagsLock.synchronized {
    require(name.nonEmpty && !name.head.isDigit &&
        name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"graft-versioned: tag name '$name' must be identifier-shaped " +
        "(letters/digits/_/-/., not starting with a digit) so it can " +
        "never be mistaken for a version number")
    val v = version.getOrElse(latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no versions under $root to tag")))
    require(Files.isDirectory(Paths.get(root, s"v=$v")),
      s"graft-versioned: cannot tag v=$v — it does not exist " +
        s"(existing: ${versions(root).mkString(", ")})")
    val cur = tags(root)
    cur.get(name).foreach(old => throw new IllegalStateException(
      s"graft-versioned: tag '$name' already points at v=$old — tags " +
        "are immutable bindings; drop it first to move it"))
    writeTags(root, cur + (name -> v))
    v
  }

  /** Remove `name`'s binding. Loud when the tag does not exist. */
  def dropTag(root: String, name: String): Long = tagsLock.synchronized {
    val cur = tags(root)
    val v = cur.getOrElse(name, throw new IllegalArgumentException(
      s"graft-versioned: no tag '$name' " +
        s"(existing: ${cur.keys.toSeq.sorted.mkString(", ")})"))
    writeTags(root, cur - name)
    v
  }

  /** Resolve a `versionAsOf` value that may be a number OR a tag name
    * — the single entry every read path funnels through. */
  def resolveRef(root: String, ref: String): Long = {
    val t = ref.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else tags(root).getOrElse(t, throw new IllegalArgumentException(
      s"graft-versioned: '$t' is neither a version number nor a tag " +
        s"of $root (tags: ${tags(root).keys.toSeq.sorted.mkString(", ")})"))
  }

  /** S14 validation: restored/current data is structurally equal to the
    * source — same columns, non-empty, same row count
    * (utils_of_backup.py:105-141's collection-set + nonemptiness check). */
  def validateAgainst(current: DataFrame, source: DataFrame): Seq[String] = {
    val problems = scala.collection.mutable.ListBuffer.empty[String]
    val cur = current.columns.toSet
    val src = source.columns.toSet
    if (cur != src)
      problems += s"column sets differ: missing=${src -- cur}, extra=${cur -- src}"
    val n = current.count()
    if (n == 0) problems += "current version is empty"
    else {
      val m = source.count()
      if (n != m) problems += s"row counts differ: current=$n source=$m"
    }
    problems.toSeq
  }

  /** §5 guard: per-column NaN/null audit before write
    * (map_divar_data_to_delta.py:157-176's pre-write NaN raise). */
  def nullAudit(df: DataFrame, cols: Seq[String]): Map[String, Long] = {
    val aggs = cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.map(c => c -> row.getAs[Long](c)).filter(_._2 > 0).toMap
  }

  /** Shared by the gate queries that reset scratch roots. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}

/** The price-prediction data feed (SURVEY.md §3.3;
  * price_prediction_data_pipeline.py:46-138): schema-driven column
  * exclusion, category filter, sentinel patch, versioned load with
  * empty-result guard.
  */
object PricePredictionFeed {

  /** Reference exclusion list (price_prediction_data_pipeline.py:57-64). */
  val defaultExcluded: Seq[String] =
    Seq("_id", "created_at", "post_token", "content_url", "images")

  /** The Mongo-export variant's (much larger) exclusion list
    * (extract_mongo_filtered_data.py:20-32) — the other schema-sampling
    * export in the reference; pass to [[prepare]]'s `excluded`. */
  val mongoExportExcluded: Seq[String] = Seq(
    "_id", "created_at", "content_url", "images",
    "location_radius", "credit_value", "has_security_guard", "has_barbecue",
    "has_pool", "has_jacuzzi", "has_business_deed", "has_sauna",
    "transformed_rent", "transformable_rent",
    "transformable_credit", "transformable_price", "rent_credit_transform",
    "transformed_credit", "credit_mode", "rent_mode",
    "rent_price_at_weekends", "rent_price_on_special_days",
    "cost_per_extra_person", "extra_person_capacity",
    "regular_person_capacity", "rent_price_on_regular_days", "rent_value",
    "rent_to_single", "property_type", "has_electricity", "price_mode",
    "has_gas", "cat2_slug", "description")

  /** extract+transform: drop excluded → filter cat3 → patch
    * construction_year −1370→1369 (P8/P11/F28). */
  def prepare(listings: DataFrame,
              excluded: Seq[String] = defaultExcluded,
              cat3: String = "apartment-sell"): DataFrame = {
    val present = excluded.filter(listings.columns.contains)
    listings
      .drop(present: _*)
      .filter(col("cat3_slug") === cat3)
      .withColumn("construction_year",
        when(col("construction_year") === -1370, 1369)
          .otherwise(col("construction_year")))
  }

  /** load with the reference's guards: fail on empty transform output
    * (price_prediction_data_pipeline.py:135-138), validate after write
    * (:179-195). */
  def loadVersioned(prepared: DataFrame, root: String): Long = {
    if (prepared.isEmpty)
      throw new IllegalStateException("no rows after transform — aborting load")
    val v = Versioned.writeNext(prepared, root)
    val written = Versioned.read(prepared.sparkSession, root, Some(v))
    if (written.isEmpty) {
      Versioned.rollback(root)
      throw new IllegalStateException("written version is empty — rolled back")
    }
    v
  }
}
