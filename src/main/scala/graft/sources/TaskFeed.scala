package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, EqualNullSafe, Expression, GenericInternalRow, JoinedRow, Literal}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType, StructType, VariantType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Versioned

/** A merge-on-read commit's stored change feed, written by the
  * commit's own write tasks instead of by a second query after the
  * claim ([[Versioned.writeFeedFor]]) — Delta's shape, where a DML
  * statement's change rows come from the job that writes its data.
  *
  * A delta write task holds what it changed: the positions it deleted
  * (the BEFORE images are the rows there, [[CommitImages.rowsAt]]) and
  * the insert file it wrote, read back once closed (the AFTER images:
  * generated and identity fills, row-tracking carriers and physical
  * names read back as stored). It pairs them by feed key as the
  * full-outer join of `Cdc.snapshotDiff` does: the same non-null key
  * on both sides is 'changed' unless every payload column is
  * `<=>`-equal, a before-only row 'removed', an after-only row
  * 'added'; a NULL key never pairs. A DV DELETE's scan writes the rows
  * it matches as 'removed' in the same pass ([[Writer.emit]]).
  *
  * A key's two images land in different tasks only if the commit has
  * unpaired images on BOTH sides, so each task reports its unpaired
  * counts and the commit keeps the tasks' feed only when one side's
  * total is 0 ([[finish]]) — an upsert MERGE (updates pair, inserts
  * are after-only), every DV DELETE and an UPDATE that keeps its keys.
  * Every other commit falls back to [[Versioned.writeFeedFor]]: a
  * key-changing UPDATE, a MERGE that both deletes and inserts, NULL
  * keys on both sides, a task whose state passes
  * `spark.sql.maxSinglePartitionBytes` or meets a key twice on one
  * side, and a claim that lands past `scannedVersion + 1`. Under the
  * feed's one-live-row-per-key rule the tasks' feed equals
  * `writeFeedFor`'s row for row. */
private[sources] object TaskFeed {

  private val Added = UTF8String.fromString("added")
  private val Removed = UTF8String.fromString("removed")
  private val Changed = UTF8String.fromString("changed")

  /** What a write task needs to write its share of one commit's feed:
    * the root-level staging `dir`, the `version` the commit expects to
    * claim, `cols` (the feed keys, then the payload in table order;
    * LOGICAL names, nullable) read through `images`, and the bound on
    * one task's pairing state. */
  case class Spec(dir: String, version: Long, cols: StructType, keys: Seq[String],
                  images: VersionedReaderFactory, maxStateBytes: Long) {
    def schema: StructType = Versioned.feedSchema(cols, keys)
  }

  /** One task's share: the feed files it wrote under the spec's dir and
    * how many of its images no key paired. */
  case class Part(files: Seq[String], unpairedBefore: Long, unpairedAfter: Long)

  /** The spec of a commit that scanned `scannedVersion` of a table with
    * `schema` feeding on `keys`, with its staging dir made — None when
    * the tasks' feed could differ from [[Versioned.writeFeedFor]]'s: a
    * VARIANT column (the store's encoder frames it as BINARY), or, when
    * the tasks pair images (`pairs`), a floating-point key (the join's
    * equality normalizes -0.0 and NaN, a hashed key does not). */
  def spec(root: String, schema: StructType, keys: Seq[String],
           colMap: Map[String, String], scannedVersion: Long,
           pairs: Boolean): Option[Spec] = {
    def floating(c: String) = schema(c).dataType match {
      case FloatType | DoubleType => true
      case _ => false
    }
    if (keys.isEmpty || !keys.forall(schema.fieldNames.contains) ||
        schema.exists(_.dataType == VariantType) || (pairs && keys.exists(floating)))
      None
    else {
      val cols = StructType((keys ++ schema.fieldNames.filterNot(keys.contains))
        .map(schema(_).copy(nullable = true)))
      Some(Spec(Versioned.stageFeed(root).toString, scannedVersion + 1, cols, keys,
        VersionedReaderFactory(cols, colMap),
        SQLConf.get.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)))
    }
  }

  /** Delete a staged feed (a fallback, a replayed txn, an abort). */
  def drop(spec: Spec): Unit = Versioned.deleteRecursively(Paths.get(spec.dir))

  /** After the claim of `committed`: publish the tasks' feed as
    * `_changes/v=<committed>` when it is the commit's whole feed, else
    * drop it and run `fallback`. Only files a task's message names
    * survive, so a speculative or failed attempt leaves nothing. */
  def finish(root: String, spec: Option[Spec], parts: Seq[Option[Part]],
             committed: Long)(fallback: => Unit): Unit = {
    val written = parts.flatten
    val whole = parts.forall(_.isDefined) &&
      (written.map(_.unpairedBefore).sum == 0 || written.map(_.unpairedAfter).sum == 0)
    spec match {
      case Some(s) if whole && s.version == committed =>
        val dir = Paths.get(s.dir)
        val keep = written.flatMap(_.files).toSet
        val stream = Files.list(dir)
        try stream.iterator().asScala.toList
          .filterNot(f => keep(f.getFileName.toString.stripPrefix(".").stripSuffix(".crc")))
          .foreach(Files.delete(_))
        finally stream.close()
        // a commit that changed no row still publishes a readable feed
        if (keep.isEmpty)
          VersionedWriterFactory(s.schema, s.dir).emptyFile(VersionedWriteIo.uniqueEmptyName())
        Versioned.publishFeed(root, committed, dir)
      case _ =>
        spec.foreach(drop)
        fallback
    }
  }

  /** A task's feed file `name` under the spec's dir. Rows given to
    * [[emit]] hold the `cols` layout from ordinal `at` on. */
  final class Writer(spec: Spec, name: String) {
    private val nk = spec.keys.size
    private val types = spec.cols.fields.map(_.dataType)
    private val np = types.length - nk
    private val out = new GenericInternalRow(nk + 2 + 2 * np)
    out.update(nk + 1, spec.version)
    // snappy, as Spark's writer compresses the feeds writeFeedFor writes
    private val file = new VersionedDataWriter(spec.dir, name, spec.schema,
      codec = org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)

    /** One feed row: the key from `key`, the old payload from `old` and
      * the new from `nw` (null: no such image). */
    def emit(kind: UTF8String, key: InternalRow, old: InternalRow, nw: InternalRow,
             at: Int = 0): Unit = {
      var i = 0
      while (i < nk) { out.update(i, key.get(at + i, types(i))); i += 1 }
      out.update(nk, kind)
      var j = 0
      while (j < np) {
        val t = types(nk + j)
        out.update(nk + 2 + j, if (old == null) null else old.get(at + nk + j, t))
        out.update(nk + 2 + np + j, if (nw == null) null else nw.get(at + nk + j, t))
        j += 1
      }
      file.write(out)
    }

    def removed(row: InternalRow, at: Int): Unit = emit(Removed, row, row, null, at)

    /** The names of the files written (none when no row was). */
    def commit(): Seq[String] = file.commit() match {
      case StagedFilesMessage(fs) => fs
      case _ => Seq.empty
    }

    def abort(): Unit = file.abort()
  }

  /** Pair one task's images by key and write its feed rows as `name`:
    * the rows of each `deleted` data file at its sorted positions
    * (before) against the rows of the `inserted` files (after). None,
    * and no file, when the task's state would pass the spec's bound or
    * a key repeats on one side. */
  def write(spec: Spec, name: String, deleted: Seq[(String, Array[Long])],
            inserted: Seq[Path]): Option[Part] = {
    val nk = spec.keys.size
    val types = spec.cols.fields.map(_.dataType)
    val n = types.length
    // the key as a value-equal sequence; null when a key column is null
    def keyOf(r: InternalRow): AnyRef = {
      val k = new Array[Any](nk)
      var i = 0
      while (i < nk) {
        if (r.isNullAt(i)) return null
        k(i) = InternalRow.copyValue(r.get(i, types(i)))
        i += 1
      }
      ArraySeq.unsafeWrapArray(k)
    }
    def bytes(r: InternalRow): Long = 16L + (0 until n).map { i =>
      if (r.isNullAt(i)) 0L
      else types(i) match {
        case _: StringType => 16L + r.getUTF8String(i).numBytes
        case _ => 8L
      }
    }.sum
    // snapshotDiff's `changed` test over (before, after): every payload
    // column `<=>`-equal means the pair is dropped
    val same: Expression = (nk until n).map(i => EqualNullSafe(
        BoundReference(i, types(i), nullable = true),
        BoundReference(n + i, types(i), nullable = true)): Expression)
      .reduceOption(And(_, _)).getOrElse(Literal(true))
    val pair = new JoinedRow

    var state = 0L
    var exact = true
    val before = new java.util.LinkedHashMap[AnyRef, InternalRow]()
    val nullKeyed = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val images = deleted.iterator.flatMap { case (file, ps) =>
      CommitImages.rowsAt(Paths.get(file), ps, spec.images) }
    while (exact && images.hasNext) {
      val r = images.next()
      state += bytes(r)
      val k = keyOf(r)
      if (state > spec.maxStateBytes) exact = false
      else if (k == null) nullKeyed += r
      else if (before.put(k, r) != null) exact = false
    }
    if (!exact) return None

    val w = new Writer(spec, name)
    try {
      var unpairedAfter = 0L
      val seen = new java.util.HashSet[AnyRef]()
      val after = inserted.iterator.flatMap(CommitImages.rowsOf(_, spec.images))
      while (exact && after.hasNext) {
        val r = after.next()
        state += bytes(r)
        val k = keyOf(r)
        if (state > spec.maxStateBytes || (k != null && !seen.add(k))) exact = false
        else {
          val b = if (k == null) null else before.remove(k)
          if (b == null) { w.emit(Added, r, null, r); unpairedAfter += 1 }
          else if (!same.eval(pair(b, r)).asInstanceOf[Boolean]) w.emit(Changed, r, b, r)
        }
      }
      if (!exact) { w.abort(); None }
      else {
        before.values.forEach(b => w.removed(b, 0))
        nullKeyed.foreach(w.removed(_, 0))
        Some(Part(w.commit(), before.size + nullKeyed.size, unpairedAfter))
      }
    } catch { case e: Throwable => w.abort(); throw e }
  }
}
