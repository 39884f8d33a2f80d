package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._

import graft.sources.GroupParquetIo

/** Data-layout clustering for scan pruning — the write-side half of the
  * 100 TB story. Range-partitioning by a single column gives perfect
  * min/max pruning on that column and none on any other; interleaving
  * the bits of TWO filter columns (a Morton / Z-order code) and
  * range-partitioning by the code keeps every partition's bounding box
  * small in BOTH dimensions, so a reader filtering on either column
  * (or both) can skip most files on footer min/max stats alone. This
  * is the standard lakehouse OPTIMIZE ZORDER BY technique, built here
  * from plain Catalyst expressions (shifts and masks — codegen'd, no
  * UDF, scan-side).
  */
object Layout {

  /** Bit-interleaved Morton code of two non-negative ints: bit `i` of
    * `a` lands at position `2i+1`, bit `i` of `b` at `2i` — an
    * expression tree of `2·bits` shift/mask terms, whole-stage
    * codegen'd. Both inputs must already be quantized to `[0, 2^bits)`
    * (callers map real domains onto the grid; rank-based quantization
    * is the robust choice for skewed domains). */
  def mortonCode(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    // widen to long BEFORE shifting: with int inputs and bits > 15 the
    // interleaved position 2i+1 exceeds 31 and Java's shift-mod-32 int
    // semantics would silently corrupt the code
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }

  /** Z-order the frame for writing: compute the Morton code of the two
    * (pre-quantized) cluster columns and range-partition + sort by it.
    * Each output partition then covers a compact Z-curve segment —
    * a small min/max box in both dimensions — which is exactly what
    * parquet footer stats need for file skipping. The code column is
    * dropped; layout is a physical property, not data. */
  def zorderBy(df: DataFrame, a: String, b: String, bits: Int,
               numPartitions: Int): DataFrame = {
    val coded = df.withColumn("__z", mortonCode(col(a), col(b), bits))
    coded.repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** N-column Morton interleave: bit `i` of column `j` lands at
    * position `i·n + (n−1−j)` — the first column owns the most
    * significant bit of each round, matching [[mortonCode]] exactly
    * for n = 2. Total code width `n·bits` must fit a long. */
  def mortonCodeN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 2, s"mortonCodeN needs at least two columns, got $n")
    require(bits >= 1 && n * bits <= 62,
      s"mortonCodeN: $n columns × $bits bits exceeds a long's code space")
    val longs = cols.map(_.cast("long"))
    (0 until bits).flatMap { i =>
      longs.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + (n - 1 - j))
      }
    }.reduce(_ + _)
  }

  /** Rank-quantized Z-order rewrite — [[zorderBy]] for REAL domains.
    * [[zorderBy]] needs both columns pre-quantized to `[0, 2^bits)`;
    * production columns are skewed longs/doubles, so this variant maps
    * each column onto the grid by RANK: `approxQuantile` (one driver
    * call, sampling-based, never a global sort) yields `2^bits − 1`
    * cut points per column, and the per-row bucket is the count of cut
    * points ≤ the value — a `filter` higher-order function over a
    * literal array, evaluated scan-side with no shuffle of its own.
    * Rank quantization is what makes the Z-code skew-proof: a column
    * where 90% of rows share one hot value still spreads the remaining
    * 10% across the grid instead of collapsing the curve to one cell
    * (Delta's OPTIMIZE ZORDER BY uses the same range_partition_id
    * trick for exactly this reason). Nulls land in bucket 0, i.e. sort
    * first — the same contract as `sortWithinPartitions`.
    *
    * The result is range-partitioned + sorted by the (dropped) code:
    * every output file covers a compact Z-curve segment, a small
    * min/max box in BOTH dimensions, so the commit's stats sidecar
    * prunes on either filter column. One shuffle (the range exchange),
    * driver cost `O(2^bits)` per column — at 100 TB the quantile pass
    * is a sample scan and everything else rides the rewrite the
    * compaction was already paying for. */
  def zorderByRank(df: DataFrame, a: String, b: String, bits: Int,
                   numPartitions: Int): DataFrame =
    zorderByRankN(df, Seq(a, b), bits, numPartitions)

  /** N-column generalization (2–4 columns is the useful range — each
    * added dimension divides the per-dimension pruning power, the
    * same trade Delta documents for OPTIMIZE ZORDER BY). */
  def zorderByRankN(df: DataFrame, cols: Seq[String], bits: Int,
                    numPartitions: Int): DataFrame = {
    require(bits >= 1 && bits <= 12,
      s"zorderByRank: bits must be in [1, 12], got $bits")
    require(cols.size >= 2 && cols.size * bits <= 62,
      s"zorderByRank: ${cols.size} columns × $bits bits must fit a long " +
        "(and one column needs no curve — use clusterBy)")
    cols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"zorderByRank: column '$c' not in ${df.schema.fieldNames.mkString(", ")}"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zorderByRank: column '$c' is ${f.dataType.simpleString} — Z-order " +
          "clustering needs numeric columns (quantile-rank the domain)")
    }
    val m = 1 << bits
    val probs = (1 until m).map(_.toDouble / m).toArray
    def bucket(c: String): Column = {
      // distinct cut points only: ties in a skewed domain repeat the
      // same cut, which would burn grid resolution for nothing
      val cuts = df.stat.approxQuantile(c, probs, 0.001).distinct.sorted
      if (cuts.isEmpty) lit(0)
      else size(filter(lit(cuts),
        cut => cut <= coalesce(col(c).cast("double"), lit(Double.MinValue))))
    }
    val coded = df.withColumn("__z", mortonCodeN(cols.map(bucket), bits))
    coded.repartitionByRange(math.max(1, numPartitions), col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Writer-side layout targets for a versioned load: cluster-sort the
    * data on `sortCols` (repartitionByRange + sortWithinPartitions —
    * globally range-clustered, so every file and row group covers a
    * narrow, nearly disjoint min/max slice of the sort key) and cap
    * `maxRecordsPerFile` so one oversized task cannot emit a
    * statistics-defeating mega-file. This is the q98 Z-order locality
    * argument applied at WRITE time to the plain single/multi-column
    * case: a reader filtering on the sort key then skips most row
    * groups on footer stats alone ([[rowGroupLongStats]] is the
    * verification probe; LayoutSpec pins the skip counts). */
  final case class WriteSpec(sortCols: Seq[String] = Seq.empty,
                             maxRecordsPerFile: Long = 0L,
                             numPartitions: Option[Int] = None)

  /** Apply a [[WriteSpec]]'s clustering to the frame (the file-count /
    * file-size half is a writer option, [[writerOptions]]). A
    * file-count-only spec (numPartitions without sortCols) is honored
    * with a plain repartition — previously a silent no-op, diverging
    * from the DSv2 writer's `writePartitions` twin. */
  def applySpec(df: DataFrame, spec: WriteSpec): DataFrame =
    if (spec.sortCols.isEmpty)
      spec.numPartitions.map(df.repartition(_)).getOrElse(df)
    else {
      val cols = spec.sortCols.map(col)
      val parted = spec.numPartitions
        .map(n => df.repartitionByRange(n, cols: _*))
        .getOrElse(df.repartitionByRange(cols: _*))
      parted.sortWithinPartitions(cols: _*)
    }

  def writerOptions(spec: WriteSpec): Map[String, String] =
    if (spec.maxRecordsPerFile > 0)
      Map("maxRecordsPerFile" -> spec.maxRecordsPerFile.toString)
    else Map.empty

  /** Per-row-group (min, max, rows) footer statistics of a long column
    * across a parquet directory — exactly the view a pruning reader
    * evaluates before opening any page, exposed so layout quality
    * ("would a filter on this column skip?") is measurable instead of
    * assumed. */
  def rowGroupLongStats(dir: java.nio.file.Path,
                        column: String): Seq[(Long, Long, Long)] = {
    Versioned.dataFiles(dir).sortBy(_.getFileName.toString).flatMap { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(new HPath(f.toString), GroupParquetIo.hadoopDefaults),
        ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.asScala.toSeq.map { block =>
        val col = block.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(throw new IllegalArgumentException(
            s"column '$column' not in ${f.getFileName}"))
        val st = col.getStatistics
        require(st != null && !st.isEmpty,
          s"no statistics for '$column' in ${f.getFileName}")
        (st.genericGetMin.asInstanceOf[Number].longValue(),
         st.genericGetMax.asInstanceOf[Number].longValue(),
         block.getRowCount)
      }
    }
  }

  /** How many row groups a `[lo, hi]` range filter on `column` could
    * skip, given the footer stats — the pruning score LayoutSpec pins
    * for sorted vs unsorted writes. */
  def prunableRowGroups(dir: java.nio.file.Path, column: String,
                        lo: Long, hi: Long): (Int, Int) = {
    val stats = rowGroupLongStats(dir, column)
    (stats.count { case (mn, mx, _) => mx < lo || mn > hi }, stats.size)
  }

  /** Hive-style partitioned write: one directory per distinct value of
    * `partCol`. The third write-side layout lever (with [[zorderBy]]
    * range clustering and [[bucketedWrite]] co-location): a reader
    * filtering on the partition column prunes whole directories at
    * PLANNING time (`PartitionFilters` in the scan, before any file is
    * opened) — at 100 TB with daily partitions, a one-day query reads
    * 1/365th of the files no matter how wide the table grows. Keep
    * partition columns low-cardinality (days, sources, regions); a
    * high-cardinality partition column is the small-files anti-pattern.
    */
  def partitionedWrite(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Write `df` as a bucketed + bucket-sorted catalog table (dropping
    * any previous incarnation). Bucketing is the other write-side
    * layout lever: two tables hash-bucketed the same way on their join
    * key co-locate, so joins and aggregations on that key read the
    * buckets directly — NO Exchange in the plan, which at 100 TB means
    * the single largest shuffle of a star-join pipeline disappears
    * entirely. The bucket count is a layout property: pick it for the
    * TARGET scale (buckets ≈ data size / healthy partition size), not
    * the test scale — small files at test scale are the accepted cost
    * of a fixed bucket count.
    */
  def bucketedWrite(df: DataFrame, table: String, keyCol: String,
                    nBuckets: Int): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    // the in-memory catalog forgets tables across sessions but leaves
    // their files; a stale location blocks CREATE, so clear it too
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.format("parquet")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .mode("overwrite").saveAsTable(table)
  }
}
