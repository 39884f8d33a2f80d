package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{DeletionVectors, Versioned}

/** The rows one commit changed, read from the two versions' manifests
  * instead of from their whole snapshots — what a stored change feed
  * is derived from ([[Versioned.writeFeedFor]]). A merge-on-read write
  * task reads the same images of its own changes in place
  * ([[rowsAt]], [[rowsOf]]) to write its share of the feed
  * ([[TaskFeed]]).
  *
  * Data file names are identities (unique at creation, carried under
  * the same name), so diffing the base version's manifest against the
  * committed one's names every changed row:
  *   - BEFORE images, live in the base and gone after the commit: the
  *     live rows of files the commit dropped, and the rows at positions
  *     the committed version's DV lists and the base's DV does not;
  *   - AFTER images, live after the commit and not before: the live
  *     rows of files the commit added, and the rows at positions a
  *     base DV lists and the committed DV no longer does (a RESTORE
  *     taking rows back out of a deletion vector).
  * Position-selected rows are read by inverting the reader's DV walk
  * ([[GroupParquetPartition.only]]); only the row groups holding a
  * listed position are scheduled. Columns come from the caller's
  * table schema (logical names, `colMap` to the physical ones), so no
  * schema is inferred. */
private[graft] object CommitImages {

  /** (before images, after images) of commit `version` over `base`
    * (None: the version is the table's first, every live row is an
    * after image), each None when it holds no row. `schema` is the
    * table schema restricted to the columns to read. */
  def of(spark: SparkSession, root: String, base: Option[Long], version: Long,
         schema: StructType, colMap: Map[String, String])
      : (Option[DataFrame], Option[DataFrame]) = {
    val cur = Version(Paths.get(root, s"v=$version"))
    val prev = base.map(b => Version(Paths.get(root, s"v=$b")))
      .getOrElse(Version.empty)
    val before = prev.files.toSeq.sortBy(_._1).flatMap { case (name, file) =>
      if (!cur.files.contains(name)) splits(file, prev.dvs.get(name), None)
      else splits(file, None, Some(minus(cur.dv(name), prev.dv(name))))
    }
    val after = cur.files.toSeq.sortBy(_._1).flatMap { case (name, file) =>
      if (!prev.files.contains(name)) splits(file, cur.dvs.get(name), None)
      else splits(file, None, Some(minus(prev.dv(name), cur.dv(name))))
    }
    def frame(ss: Seq[Split]): Option[DataFrame] =
      if (ss.isEmpty) None
      else Some(org.apache.spark.sql.GraftBridge.ofRows(spark,
        DataSourceV2Relation.create(new ImagesTable(schema, colMap, ss), None, None)))
    (frame(before), frame(after))
  }

  /** The rows of `file` at the sorted, distinct `positions`, whatever
    * their DV state, read in the calling task through `images` — the
    * same split-per-row-group `only` read the images relation
    * schedules, run in place. Rows are copies. */
  def rowsAt(file: Path, positions: Array[Long],
             images: VersionedReaderFactory): Iterator[InternalRow] =
    splits(file, None, Some(positions)).iterator.flatMap(s => read(s.part, images))

  /** Every row of `file` (one the calling task wrote), read back
    * through `images`. Rows are copies. */
  def rowsOf(file: Path, images: VersionedReaderFactory): Iterator[InternalRow] =
    read(GroupParquetPartition(file.toString), images)

  private def read(part: GroupParquetPartition,
                   images: VersionedReaderFactory): Iterator[InternalRow] = {
    val r = images.createReader(part)
    // a reader left before its end closes with the task
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
    new Iterator[InternalRow] {
      private var ahead = false
      private var done = false
      override def hasNext: Boolean = {
        if (!ahead && !done) {
          ahead = r.next()
          if (!ahead) { done = true; r.close() }
        }
        ahead
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        ahead = false
        r.get().copy()
      }
    }
  }

  /** One version's data files and DV sidecars, by data file name. */
  private case class Version(files: Map[String, Path], dvs: Map[String, Path]) {
    def dv(name: String): Array[Long] =
      dvs.get(name).map(DeletionVectors.read).getOrElse(Array.emptyLongArray)
  }

  private object Version {
    val empty: Version = Version(Map.empty, Map.empty)
    def apply(vdir: Path): Version = {
      require(Files.isDirectory(vdir), s"graft-versioned: no version dir $vdir")
      Version(Versioned.dataFiles(vdir).map(f => f.getFileName.toString -> f).toMap,
        DeletionVectors.dvMap(vdir))
    }
  }

  /** Sorted positions of `a` that `b` (sorted) does not hold. */
  private def minus(a: Array[Long], b: Array[Long]): Array[Long] =
    if (b.isEmpty) a else a.filter(java.util.Arrays.binarySearch(b, _) < 0)

  /** A scheduled split with its row count and uncompressed bytes. */
  private case class Split(part: GroupParquetPartition, rows: Long, bytes: Long)

  /** One split per row group of `file` that yields a row: the rows at
    * the sorted `only` positions when given, else the rows `dv` does
    * not list. */
  private def splits(file: Path, dv: Option[Path],
                     only: Option[Array[Long]]): Seq[Split] =
    if (only.exists(_.isEmpty)) Seq.empty
    else {
      val blocks = GroupParquetIo.readFooters(Seq(file)).head.kept
      val dead = dv.map(DeletionVectors.read).getOrElse(Array.emptyLongArray)
      // a one-group file is read whole (the planner's own split rule)
      val whole = blocks.size <= 1
      blocks.zip(blocks.scanLeft(0L)(_ + _.getRowCount)).flatMap { case (b, first) =>
        def within(ps: Array[Long]): Array[Long] =
          ps.slice(insertionPoint(ps, first), insertionPoint(ps, first + b.getRowCount))
        val kept = only.map(within)
        val rows = kept.fold(b.getRowCount - within(dead).length)(_.length.toLong)
        if (rows == 0) None
        else Some(Split(
          GroupParquetPartition(file.toString,
            if (whole) -1L else b.getStartingPos,
            if (whole) -1L else b.getStartingPos + b.getCompressedSize,
            dvFile = dv.map(_.toString).orNull, only = kept.orNull),
          rows, b.getTotalByteSize * rows / math.max(1L, b.getRowCount)))
      }
    }

  /** Index of the first element of sorted, distinct `a` that is >= `x`. */
  private def insertionPoint(a: Array[Long], x: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, x)
    if (i >= 0) i else -i - 1
  }

  /** The read-only relation over a fixed set of splits. Its size
    * estimate is what lets a small pair of sides join in one partition
    * each (`spark.sql.maxSinglePartitionBytes`). */
  private class ImagesTable(schema: StructType, colMap: Map[String, String],
                            splits: Seq[Split])
      extends Table with SupportsRead {
    override def name(): String = "graft-versioned commit images"
    override def schema(): StructType = schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new Scan with Batch with SupportsReportStatistics {
        override def readSchema(): StructType = schema
        override def description(): String =
          s"GraftCommitImages splits=${splits.size}"
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          splits.map(_.part).toArray
        override def createReaderFactory(): PartitionReaderFactory =
          VersionedReaderFactory(schema, colMap)
        override def estimateStatistics(): Statistics = new Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(math.max(1L, splits.map(_.bytes).sum))
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(splits.map(_.rows).sum)
        }
      }
  }
}
