package graft.sources

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.{FileStats, Versioned}
import graft.operators.FileStats.{B, ColStat, D, L, S, V}

/** The on-disk contract of the data files the store writes itself —
  * DSv2 appends, MERGE inserts on a deletion-vector table, streaming
  * epochs and the zero-row schema carrier of an all-empty write: every
  * column's parquet primitive type, logical annotation and repetition,
  * the codec, and the `_graft_stats` line of each new file; every row
  * reads back equal, VARIANT included. Also the partition-boundary
  * roll: one task writing several identity-partition values cuts one
  * file per value, whatever the key's type. */
class StoreFileContractSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft_contract_").toString
    spark.conf.set("spark.sql.catalog.gfc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gfc.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gfc.ns")
    w
  }

  private val Epoch2024Day = 19723L               // 2024-01-01
  private val Epoch2024Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  /** One row of every store type per id; every column but `l` is NULL
    * when `id % 4 = 3`. Evaluated in memory as the expectation and fed
    * to every write. */
  private def rowsSql(from: String): String =
    "SELECT id AS l, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE CAST(id * 10 AS INT) END AS i, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE id * 1.5D END AS d, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE CAST(id / 4 AS FLOAT) END AS f, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE id % 2 = 0 END AS b, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE concat('s', id) END AS s, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE " +
      "date_add(DATE'2024-01-01', CAST(id AS INT)) END AS dt, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE " +
      s"timestamp_micros(${Epoch2024Micros}L + id * 1000000L) END AS ts, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE CAST(timestamp_micros(" +
      s"${Epoch2024Micros}L + id * 1000000L) AS TIMESTAMP_NTZ) END AS tn, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE parse_json(to_json(" +
      "named_struct('n', id, 'k', concat('k', id)))) END AS v " +
      s"FROM $from"

  private def ids(xs: Long*): String =
    xs.map(x => s"($x)").mkString("VALUES ", ", ", " AS src(id)")

  private val Columns = Seq("l", "i", "d", "f", "b", "s", "dt", "ts", "tn", "v")

  /** (primitive type, logical annotation) the store writes per column;
    * every column is OPTIONAL. */
  private val ExpectedTypes: Map[String, (PrimitiveTypeName, LogicalTypeAnnotation)] = Map(
    "l" -> (PrimitiveTypeName.INT64, null),
    "i" -> (PrimitiveTypeName.INT32, null),
    "d" -> (PrimitiveTypeName.DOUBLE, null),
    "f" -> (PrimitiveTypeName.FLOAT, null),
    "b" -> (PrimitiveTypeName.BOOLEAN, null),
    "s" -> (PrimitiveTypeName.BINARY, LogicalTypeAnnotation.stringType()),
    "dt" -> (PrimitiveTypeName.INT32, LogicalTypeAnnotation.dateType()),
    "ts" -> (PrimitiveTypeName.INT64,
      LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)),
    "tn" -> (PrimitiveTypeName.INT64,
      LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)),
    // VARIANT: one un-annotated BINARY holding [len][metadata][value]
    "v" -> (PrimitiveTypeName.BINARY, null))

  /** The `_graft_stats` column statistics of the rows `xs`, merged
    * over however many files the write cut. VARIANT keeps null counts
    * only. */
  private def expectedStats(xs: Seq[Long]): Map[String, ColStat] = {
    val live = xs.filter(_ % 4 != 3)
    val nulls = (xs.size - live.size).toLong
    def span[T](f: Long => T)(implicit o: Ordering[T]): (Option[T], Option[T]) =
      if (live.isEmpty) (None, None)
      else (Some(live.map(f).min), Some(live.map(f).max))
    def col[T: Ordering](f: Long => T, v: T => V, n: Long = nulls): ColStat = {
      val (lo, hi) = span(f)
      ColStat(lo.map(v), hi.map(v), Some(n))
    }
    Map(
      "l" -> (if (xs.isEmpty) ColStat(None, None, Some(0L))
              else ColStat(Some(L(xs.min)), Some(L(xs.max)), Some(0L))),
      "i" -> col[Long](_ * 10, L(_)),
      "d" -> col[Double](_ * 1.5, D(_)),
      "f" -> col[Double](x => (x / 4.0).toFloat.toDouble, D(_)),
      "b" -> col[Boolean](_ % 2 == 0, B(_)),
      "s" -> col[String](x => s"s$x", S(_)),
      "dt" -> col[Long](Epoch2024Day + _, L(_)),
      "ts" -> col[Long](Epoch2024Micros + _ * 1000000L, L(_)),
      "tn" -> col[Long](Epoch2024Micros + _ * 1000000L, L(_)),
      "v" -> ColStat(None, None, Some(nulls)))
  }

  private def footer(f: Path): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new HPath(f.toString), GroupParquetIo.hadoopDefaults),
      ParquetMetadataConverter.NO_FILTER)

  private def cmp(a: V, b: V): Int = (a, b) match {
    case (L(x), L(y)) => java.lang.Long.compare(x, y)
    case (D(x), D(y)) => java.lang.Double.compare(x, y)
    case (S(x), S(y)) => x.compareTo(y)
    case (B(x), B(y)) => java.lang.Boolean.compare(x, y)
    case _ => fail(s"mixed statistic types $a / $b")
  }

  /** Merge per-file column statistics: min of mins, max of maxes, sum
    * of null counts. */
  private def merged(stats: Seq[ColStat]): ColStat = {
    val los = stats.flatMap(_.lo)
    val his = stats.flatMap(_.hi)
    ColStat(los.reduceOption((a, b) => if (cmp(a, b) <= 0) a else b),
      his.reduceOption((a, b) => if (cmp(a, b) >= 0) a else b),
      Some(stats.map(_.nulls.getOrElse(fail("null count missing"))).sum))
  }

  /** Pins every data file `v=<version>` adds over `v=<version - 1>`:
    * the footer's column types, annotations, repetition and codec, and
    * the merged `_graft_stats` lines against the rows `xs`. */
  private def assertNewFiles(root: String, version: Long, xs: Seq[Long],
                             what: String): Unit = {
    val vdir = Paths.get(root, s"v=$version")
    val before =
      if (version == 0L) Set.empty[String]
      else Versioned.dataFiles(Paths.get(root, s"v=${version - 1}"))
        .map(_.getFileName.toString).toSet
    val added = Versioned.dataFiles(vdir)
      .filterNot(f => before(f.getFileName.toString))
    assert(added.nonEmpty, s"$what: no new data file in v=$version")
    val stats = FileStats.read(vdir)
    added.foreach { f =>
      val meta = footer(f)
      val fields = meta.getFileMetaData.getSchema.getFields.asScala.toSeq
      assert(fields.map(_.getName) === Columns, s"$what: ${f.getFileName}")
      fields.foreach { fld =>
        val (prim, ann) = ExpectedTypes(fld.getName)
        assert(fld.isPrimitive, s"$what: ${fld.getName} must be primitive")
        val got = fld.asPrimitiveType
        assert(got.getPrimitiveTypeName === prim, s"$what: ${fld.getName}")
        assert(got.getLogicalTypeAnnotation === ann, s"$what: ${fld.getName}")
        assert(got.getRepetition === Repetition.OPTIONAL, s"$what: ${fld.getName}")
      }
      meta.getBlocks.asScala.foreach(_.getColumns.asScala.foreach { c =>
        assert(c.getCodec === CompressionCodecName.UNCOMPRESSED,
          s"$what: ${f.getFileName} ${c.getPath}")
      })
      val line = stats.getOrElse(f.getFileName.toString,
        fail(s"$what: no _graft_stats line for ${f.getFileName}"))
      assert(line.rows === meta.getBlocks.asScala.map(_.getRowCount).sum,
        s"$what: ${f.getFileName}")
      assert(line.cols.keySet === Columns.toSet, s"$what: ${f.getFileName}")
    }
    val lines = added.map(f => stats(f.getFileName.toString))
    assert(lines.map(_.rows).sum === xs.size.toLong, what)
    val want = expectedStats(xs)
    Columns.foreach { c =>
      assert(merged(lines.map(_.cols(c))) === want(c), s"$what: column $c")
    }
  }

  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr(
      Columns.map(c => if (c == "v") "to_json(v) AS v" else c): _*)
      .orderBy("l").collect().map(_.toString).toSeq

  test("store-written files: every type's encoding, codec and stats line, " +
      "per commit kind; rows read back equal") {
    warehouse
    val t = "gfc.ns.types"
    val root = s"$warehouse/ns/types"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (l BIGINT, i INT, d DOUBLE, f FLOAT, " +
      "b BOOLEAN, s STRING, dt DATE, ts TIMESTAMP, tn TIMESTAMP_NTZ, " +
      "v VARIANT) USING `graft-versioned` " +
      "TBLPROPERTIES ('deletionVectors'='true')")

    // v=0: DSv2 append
    spark.sql(s"INSERT INTO $t ${rowsSql("range(0, 6)")}")
    assertNewFiles(root, 0L, 0L until 6L, "append")

    // v=1: MERGE on a deletion-vector table — one matched row (DV +
    // re-insert) and one new row, both through the delta writer
    spark.sql(rowsSql(ids(4L, 10L))).createOrReplaceTempView("contract_src")
    spark.sql(s"MERGE INTO $t t USING contract_src s ON t.l = s.l " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(graft.operators.DeletionVectors.dvMap(Paths.get(root, "v=1")).nonEmpty,
      "the MERGE must take the deletion-vector path")
    assertNewFiles(root, 1L, Seq(4L, 10L), "merge")

    // v=2: one streaming epoch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(20L, 21L, 22L, 23L)
    mem.toDF().toDF("id").createOrReplaceTempView("contract_stream")
    val q = spark.sql(rowsSql("contract_stream")).writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_contract_ck_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination()
    assertNewFiles(root, 2L, 20L to 23L, "streaming epoch")

    // v=3: an all-empty write commits the zero-row schema carrier
    spark.sql(s"INSERT INTO $t ${rowsSql("range(0, 0)")}")
    assertNewFiles(root, 3L, Seq.empty, "empty write")

    assert(Versioned.versions(root) === (0L to 3L))
    val want = rendered(spark.sql(
      rowsSql(ids(0L, 1L, 2L, 3L, 4L, 5L, 10L, 20L, 21L, 22L, 23L))))
    assert(rendered(spark.table(t)) === want)
    // a path-based load restores VARIANT from the root's marker
    assert(rendered(spark.read.format("graft-versioned").load(root)) === want)
  }

  test("one task writing three DOUBLE partition values cuts three files, " +
      "each pinning one value") {
    warehouse
    val t = "gfc.ns.droll"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, d DOUBLE) USING `graft-versioned` " +
      "PARTITIONED BY (d) TBLPROPERTIES ('writePartitions'='1')")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 3 AS DOUBLE) / 2 " +
      "FROM range(0, 30)")
    val vdir = Paths.get(warehouse, "ns", "droll", "v=0")
    val stats = FileStats.read(vdir)
    val files = Versioned.dataFiles(vdir)
    assert(files.size === 3, files.map(_.getFileName).toString)
    val pinned = files.map { f =>
      val cs = stats(f.getFileName.toString).cols("d")
      assert(cs.lo.isDefined && cs.lo === cs.hi,
        s"${f.getFileName} spans d in [${cs.lo}, ${cs.hi}]")
      cs.lo.get
    }
    assert(pinned.toSet === Set[V](D(0.0), D(0.5), D(1.0)))
    assert(spark.table(t).count() === 30L)
  }
}
