package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport, SparkToParquetSchemaConverter, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Versioned

/** DataSource V2 surface for the graft version store — the
  * `spark.read.format("graft-versioned")` API a Delta-style consumer
  * expects over [[graft.operators.Versioned]] roots (the reference's
  * versioned-load consumers, price_prediction_data_pipeline.py:140-177,
  * and the restore path, utils_of_backup.py:43-164). Completes the
  * Catalyst extension ladder: expressions → optimizer rules → planner
  * strategies → physical operators → **TableProvider/Scan**.
  *
  * Batch reads resolve a snapshot:
  * {{{
  * spark.read.format("graft-versioned")
  *   .option("versionAsOf", 1)          // or
  *   .option("timestampAsOf", 2500)     // commit-stamp time travel
  *   .load(root)
  * }}}
  * Streaming reads drain the STORED change feed
  * ([[Versioned.writeNextWithFeed]]) version-by-version, each commit one
  * micro-batch — the Delta CDF shape:
  * {{{
  * spark.readStream.format("graft-versioned")
  *   .option("changeFeed", "true").option("startingVersion", 1)
  *   .load(root)
  * }}}
  *
  * The scan is a REAL column-pruning, filter-pushing reader: requested
  * columns become a parquet projection schema (unread columns are never
  * decoded), and supported predicates (incl. IN) become parquet
  * `FilterPredicate`s (row-group statistics + dictionary +
  * record-level filtering inside the parquet reader — rows failing a
  * pushed filter are never materialized). One input partition per
  * SURVIVING parquet ROW GROUP: pushed predicates prune groups against
  * footer min/max AT THE DRIVER ([[GroupParquetIo.pruneByStats]]), so
  * selectivity shrinks the task count, not just bytes read; runtime
  * filters (broadcast-join key sets) re-prune at execution
  * (`SupportsRuntimeV2Filtering`); footer statistics feed Catalyst
  * (`SupportsReportStatistics` — small snapshots auto-broadcast);
  * global COUNT/MIN/MAX answer from footers alone
  * (`SupportsPushDownAggregates`); LIMIT schedules only covering
  * groups (`SupportsPushDownLimit`). Files are the durability unit,
  * row groups the parallelism unit — a compacted 1 GB file still fans
  * out to its groups instead of capping the stage at file count.
  *
  * SQL mutations (UPDATE / MERGE INTO / arbitrary-predicate DELETE)
  * run as group-based copy-on-write row-level operations with the
  * DATA FILE as the replacement group (`SupportsRowLevelOperations` +
  * the `_file` metadata column); `ALTER TABLE ADD COLUMN` evolves the
  * manifest metadata-only (pre-evolution files null-fill); a
  * `changeFeedKeys` table stores a keyed diff feed on every commit
  * (the Delta CDF contract, drained by the streaming source).
  *
  * Writes honor a layout contract: `clusterBy` (write option or
  * catalog TBLPROPERTY) range-clusters + sorts rows through Spark's
  * own planner (`RequiresDistributionAndOrdering`) before files are
  * cut; `writePartitions` / `targetFileBytes` control file count and
  * size.
  *
  * Types cover the version-store column set (long/int/double/float/
  * boolean/string/date/timestamp — both LTZ and NTZ, stored as parquet
  * INT64 micros). Anything else fails loudly at read AND write time —
  * the graft fail-loud contract, not a silent null.
  */
class GraftVersionedProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftVersionedTable.resolveSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftVersionedTable(schema,
      new CaseInsensitiveStringMap(properties))
}

private[sources] object GraftVersionedTable {

  /** Name of the synthesized file-provenance metadata column. */
  val FileColumn = "_file"

  object FileMetadataColumn extends MetadataColumn {
    override def name(): String = FileColumn
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "data file path holding the row"
  }

  /** Name of the synthesized absolute-row-position metadata column —
    * the physical row ordinal within the row's data file, the
    * coordinate deletion vectors are keyed on and half of the delta
    * operations' row id (`(_file, _pos)`, the Iceberg shape). Always
    * exposed; read from the parquet row index, so it stays physical
    * whatever the scan prunes. */
  val PosColumn = "_pos"

  object PosMetadataColumn extends MetadataColumn {
    override def name(): String = PosColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "absolute row position within the data file"
  }

  /** Name of the STABLE ROW ID metadata column (Delta's rowTracking):
    * assigned once at commit (`file base + _pos`), preserved across
    * merge-on-read mutations by construction (files hard-link) and
    * across rewrites by materialization
    * ([[graft.operators.RowIds.MaterializedCol]]). Exposed only on
    * tables whose protocol flags the `row-tracking` writer feature. */
  val RowIdColumn = "_row_id"

  object RowIdMetadataColumn extends MetadataColumn {
    override def name(): String = RowIdColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "stable row id (row tracking) — survives rewrites"
    // split-UPDATE reinsert rows must KEEP their source id (Spark
    // nulls reinsert metadata by default) — this is how the delta
    // writer receives the old id to materialize into the insert file
    override def metadataInJSON(): String =
      s"""{"${MetadataColumn.PRESERVE_ON_REINSERT}": true}"""
  }

  /** Name of the ROW COMMIT VERSION metadata column (the rowTracking
    * partner fact): the commit that created/last modified the row —
    * derived from the file's adding commit (appends create files, MoR
    * updates insert files, DV deletes touch no surviving row),
    * carried per row through rewrites. An incremental consumer scans
    * `_row_commit_version > N` instead of diffing. */
  val RowVerColumn = "_row_commit_version"

  object RowVerMetadataColumn extends MetadataColumn {
    override def name(): String = RowVerColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "commit version that created/last modified the row (row tracking)"
  }

  /** COLUMN MAPPING (logical → physical): files always store PHYSICAL
    * column names, fixed at column birth; `RENAME COLUMN` moves only
    * the logical name, so every pre-rename file stays readable with no
    * rewrite (Delta's name-mapping mode). The catalog serializes the
    * mapping into this option; identity when absent. Separators are
    * control characters no SQL identifier contains. */
  private val ColMapEntrySep = '\u0002'
  private val ColMapPairSep = '\u0001'

  def colMapOf(options: CaseInsensitiveStringMap): Map[String, String] =
    colMapOf(Option(options.get("colmap")))

  /** [[colMapOf]] of a serialized `colmap` option value. */
  def colMapOf(raw: Option[String]): Map[String, String] =
    raw.filter(_.nonEmpty)
      .map(_.split(ColMapEntrySep).map { e =>
        val i = e.indexOf(ColMapPairSep)
        require(i > 0, s"graft-versioned: malformed colmap entry '$e'")
        e.substring(0, i) -> e.substring(i + 1)
      }.toMap)
      .getOrElse(Map.empty)

  def serializeColMap(m: Map[String, String]): String =
    m.map { case (l, p) => s"$l$ColMapPairSep$p" }
      .mkString(ColMapEntrySep.toString)

  /** A schema with every field renamed logical → physical — what the
    * writer stamps into parquet footers. */
  def physicalSchema(schema: StructType, colMap: Map[String, String]): StructType =
    if (colMap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = colMap.getOrElse(f.name, f.name))))

  /** Does the snapshot this scan resolves to carry deletion vectors?
    * (False for change feeds and uninitialized roots.) */
  def snapshotHasDvs(options: CaseInsensitiveStringMap): Boolean =
    !isChangeFeed(options) && {
      val root = rootOf(options)
      (Versioned.latestVersion(root).nonEmpty ||
        options.containsKey("versionAsOf") ||
        options.containsKey("timestampAsOf")) &&
        graft.operators.DeletionVectors.hasDvs(
          java.nio.file.Paths.get(snapshotDir(root, options)))
    }

  def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-versioned needs a version root: .load(<root>)")
    p
  }

  def isChangeFeed(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("changeFeed", false)

  /** Resolve the snapshot version from versionAsOf / timestampAsOf /
    * latest — the same resolution rules as [[Versioned.read]] /
    * [[Versioned.readAsOf]] (stamp-based, never mtimes). */
  def resolveVersion(root: String, options: CaseInsensitiveStringMap): Long = {
    // versionAsOf accepts a version NUMBER or a TAG name (Iceberg's
    // named-ref contract) — resolveRef settles which, loudly
    val vOpt = Option(options.get("versionAsOf"))
      .map(Versioned.resolveRef(root, _))
    val tOpt = Option(options.get("timestampAsOf")).map(_.toLong)
    require(vOpt.isEmpty || tOpt.isEmpty,
      "graft-versioned: give versionAsOf OR timestampAsOf, not both")
    vOpt.getOrElse {
      tOpt match {
        case Some(ts) => Versioned.resolveAsOf(root, ts)
        case None => Versioned.latestVersion(root).getOrElse(
          throw new IllegalStateException(s"no versions under $root"))
      }
    }
  }

  def snapshotDir(root: String, options: CaseInsensitiveStringMap): String =
    s"$root/v=${resolveVersion(root, options)}"

  /** Schema of the resolved snapshot (batch) or of the stored change
    * feed (changeFeed=true) — inferred once, driver-side, through the
    * engine's own parquet footer reader.
    *
    * An empty root is fail-loud (`no versions`) UNLESS the caller opts
    * into bootstrap with `.option("create", "true")` — the first write
    * to a fresh root has no schema to infer, so the table reports an
    * empty schema plus ACCEPT_ANY_SCHEMA and the write carries its own
    * (the catalog path never hits this: a created table's schema comes
    * from its manifest, not from inference). */
  /** Widening-aware schema union: same-named fields whose types differ
    * merge ONLY along the value-preserving widenings (INT→BIGINT,
    * FLOAT→DOUBLE — the `type-widening` contract); anything else is a
    * loud conflict, exactly like parquet's own merge. Field order =
    * first appearance. */
  private[sources] def widenMergeSchemas(schemas: Seq[StructType],
                                         root: String): StructType = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(g) if g.dataType == f.dataType =>
          if (f.nullable && !g.nullable) order(f.name) = g.copy(nullable = true)
        case Some(g) =>
          val widened = (g.dataType, f.dataType) match {
            case (IntegerType, LongType) | (LongType, IntegerType) => LongType
            case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
            case _ => throw new IllegalStateException(
              s"graft-versioned: cannot merge schemas under $root — " +
                s"column '${f.name}' is ${g.dataType.simpleString} in one " +
                s"file and ${f.dataType.simpleString} in another, and only " +
                "INT->BIGINT / FLOAT->DOUBLE widen")
          }
          order(f.name) = g.copy(dataType = widened,
            nullable = g.nullable || f.nullable)
      }
    })
    StructType(order.values.toSeq)
  }

  /** The stored feed versions a change-feed read selects: the
    * `startingVersion`/`endingVersion` bounds (numbers or tags) or the
    * `startingTimestamp`/`endingTimestamp` bounds (commit stamps,
    * micros), defaulting to every stored feed. Fails loudly on bounds
    * that select nothing. */
  def feedRange(root: String, options: CaseInsensitiveStringMap): Seq[Long] = {
    val feeds = Versioned.feedVersions(root)
    require(feeds.nonEmpty,
      s"graft-versioned: no stored change feed under $root — the table " +
        "was not written with changeFeedKeys / writeNextWithFeed")
    def bound(key: String, default: Long): Long =
      Option(options.get(key))
        .map(Versioned.resolveRef(root, _)) // number or tag name
        .getOrElse(default)
    // TIMESTAMP bounds (Delta's readChangeFeed startingTimestamp /
    // endingTimestamp): resolved against commit stamps — the same
    // micros anchor timestampAsOf uses, checkpoint-accelerated.
    // start = first feed commit stamped at-or-after; end = last feed
    // commit stamped at-or-before. Exclusive with the version bounds.
    def tsBound(key: String): Option[Long] =
      Option(options.get(key)).map { raw =>
        scala.util.Try(raw.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"graft-versioned: $key must be an integer commit stamp " +
              s"(micros), got '$raw'"))
      }
    require(!(options.containsKey("startingVersion") &&
        options.containsKey("startingTimestamp")),
      "graft-versioned: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    require(!(options.containsKey("endingVersion") &&
        options.containsKey("endingTimestamp")),
      "graft-versioned: endingVersion and endingTimestamp are " +
        "mutually exclusive")
    lazy val cp = Versioned.readCheckpoint(root)
    def stampOf(v: Long): Option[Long] =
      Versioned.commitInfoFast(root, v, cp).ts
    val from = tsBound("startingTimestamp").map { ts =>
      feeds.find(v => stampOf(v).exists(_ >= ts)).getOrElse(
        throw new IllegalArgumentException(
          s"graft-versioned: startingTimestamp $ts is after the newest " +
            "stored feed commit — nothing to read"))
    }.getOrElse(bound("startingVersion", 0L))
    val to = tsBound("endingTimestamp").map { ts =>
      val sel = feeds.filter(v => stampOf(v).exists(_ <= ts))
      require(sel.nonEmpty,
        s"graft-versioned: endingTimestamp $ts precedes the earliest " +
          "stored feed commit")
      sel.last
    }.getOrElse(bound("endingVersion", feeds.last))
    require(from <= feeds.last,
      s"graft-versioned: startingVersion $from is beyond the newest " +
        s"stored feed version ${feeds.last}")
    require(from <= to,
      s"graft-versioned: startingVersion $from > endingVersion $to")
    feeds.filter(v => v >= from && v <= to)
  }

  def resolveSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val root = rootOf(options)
    if (isChangeFeed(options)) {
      val feeds = Versioned.feedVersions(root)
      require(feeds.nonEmpty,
        s"no change feed under $root — write versions with " +
          "Versioned.writeNextWithFeed to enable streaming reads")
      // the union over the feeds the read selects (a stream's start
      // past the stored feeds selects them all), from their footers on
      // the driver — no job: a table that evolved mid-range has old
      // feeds without the new old_/new_ payload columns — the union
      // exposes them and pre-evolution feed files null-fill on read;
      // one spanning a TYPE WIDENING holds INT32 and INT64 halves of
      // the same column, which the widening-aware union takes
      val selected = scala.util.Try(feedRange(root, options)).toOption
        .filter(_.nonEmpty).getOrElse(feeds)
      val converter = new ParquetToSparkSchemaConverter(SQLConf.get)
      val files = selected.flatMap(v =>
        Versioned.dataFiles(java.nio.file.Paths.get(Versioned.feedDir(root, v))))
      val merged = widenMergeSchemas(files.map { f =>
        val path = new HPath(f.toString)
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(path, GroupParquetIo.hadoopDefaults),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(path, meta), converter)
      }, root)
      StructType(merged.fields.map(_.copy(nullable = true)))
    } else if (Versioned.latestVersion(root).isEmpty &&
               options.getBoolean("create", false)) {
      new StructType()
    } else {
      // mergeSchema: a snapshot that hard-links pre-evolution files
      // next to evolved ones holds MIXED footer schemas — the union
      // (with null-fill on read) is the snapshot's schema; files
      // resolve through the commit manifest (stray parquet invisible)
      val dir = snapshotDir(root, options)
      val files = Versioned.dataFiles(java.nio.file.Paths.get(dir))
        .map(_.toString)
      val r = spark.read.option("mergeSchema", "true")
      // a WIDENED snapshot holds INT32 and INT64 (FLOAT/DOUBLE) halves
      // of the same column across files — parquet's own merge refuses
      // that, so fall back to the widening-aware union (the reader
      // widens the narrow files on scan)
      val inferredRaw =
        try (if (files.isEmpty) r.parquet(dir) else r.parquet(files: _*)).schema
        catch { case e: org.apache.spark.SparkException
            if String.valueOf(e.getMessage).contains("CANNOT_MERGE_SCHEMAS") =>
          widenMergeSchemas(
            files.map(f => spark.read.parquet(f).schema), root)
        }
      // the materialized row-id/version carriers are engine-internal —
      // a rewritten file stores them physically, the logical schema
      // never shows them (readers reach ids through the `_row_id` /
      // `_row_commit_version` metadata columns)
      val inferred = StructType(inferredRaw.fields.filterNot(f =>
        f.name == graft.operators.RowIds.MaterializedCol ||
          f.name == graft.operators.RowIds.MaterializedVerCol).toSeq)
      // a colmap-carrying load surfaces LOGICAL names: footer names
      // are physical; a complete mapping also hides DROPPED columns
      // (their physical names map to no logical one)
      val colMap = colMapOf(options)
      val mapped =
        if (colMap.isEmpty) inferred
        else {
          val rev = colMap.map(_.swap)
          StructType(inferred.fields.flatMap(f =>
            rev.get(f.name).map(l => f.copy(name = l))).toSeq)
        }
      // VARIANT columns are stored as un-annotated BINARY (see
      // VersionedDataWriter.fileSchema), so footer inference yields
      // BinaryType — the root-level marker the DSv2 writer records
      // restores the logical type for path-based loads (catalog loads
      // carry the persisted StructType and never reach inference)
      val variantCols = variantColsOf(root)
      if (variantCols.isEmpty) mapped
      else StructType(mapped.fields.map(f =>
        if (variantCols(f.name) && f.dataType == BinaryType)
          f.copy(dataType = VariantType)
        else f).toSeq)
    }
  }

  /** Marker naming the root's VARIANT columns (logical names, one per
    * line) — written by the commit paths whenever the write schema
    * carries a variant column. */
  private[sources] val VariantColsMarker = "_graft_variant_cols"

  private[sources] def variantColsOf(root: String): Set[String] = {
    val f = java.nio.file.Paths.get(root, VariantColsMarker)
    if (!java.nio.file.Files.exists(f)) Set.empty
    else new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSet
  }

  private[sources] def recordVariantCols(root: String,
                                         schema: StructType): Unit = {
    val vs = schema.fields.filter(_.dataType == VariantType).map(_.name)
    if (vs.nonEmpty)
      CommitStore.active.publishFile(
        java.nio.file.Paths.get(root, VariantColsMarker),
        vs.sorted.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

private[sources] class GraftVersionedTable(
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    tableConstraints: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      Array.empty)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  // catalog-persisted CHECK constraints — Spark's analyzer injects
  // their enforcement into every write against this table
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableConstraints

  private val root = GraftVersionedTable.rootOf(options)
  // protocol gate at table resolution — one shot covers every scan,
  // write, and stream built from this table: a root requiring a reader
  // feature this build lacks fails loudly here instead of returning
  // rows a missing feature (an unapplied DV, a bypassed column
  // mapping) would falsify
  Versioned.checkProtocol(root)
  private val changeFeed = GraftVersionedTable.isChangeFeed(options)
  // Delta's delta.appendOnly: the table accepts INSERT/append commits
  // ONLY — UPDATE/DELETE/MERGE/overwrite are refused loudly (the
  // audit-log contract: history is evidence, mutation would be
  // tampering). The matching 'append-only' WRITER feature flag keeps
  // builds that don't know the property from breaking the promise.
  // The flag in the table ROOT's protocol file is authoritative: a
  // path-based write (or any caller omitting the option) must not be
  // able to mutate a protocol-flagged append-only table just by
  // arriving through a different access route.
  private[sources] val appendOnly = options.getBoolean("appendOnly", false) ||
    Versioned.writerFeatures(root).contains("append-only")

  private[sources] def refuseMutation(verb: String): Unit =
    if (appendOnly) throw new UnsupportedOperationException(
      s"graft-versioned: $verb on `$root` refused — the table is " +
        "appendOnly (INSERT/append commits only); unset the appendOnly " +
        "property and drop the 'append-only' writer feature to mutate")

  override def name(): String =
    if (changeFeed) s"graft-versioned changes `$root`"
    else s"graft-versioned `$root`"

  override def schema(): StructType = tableSchema

  /** DDL-declared partitioning (mapped to the clusterBy layout by the
    * catalog) — surfaced so DESCRIBE shows the clause, transforms
    * included. */
  override def partitioning():
      Array[org.apache.spark.sql.connector.expressions.Transform] =
    Option(options.get("partitionedBy")).map(v =>
      PartitionTransforms.toV2(PartitionTransforms.parse(v)))
      .getOrElse(Array.empty)

  /** SHOW TBLPROPERTIES surface: the persisted layout contract,
    * including the PARTITIONED BY → clusterBy mapping. */
  override def properties(): util.Map[String, String] = {
    val keys = Seq("clusterBy", "writePartitions", "targetFileBytes",
      "changeFeedKeys", "deletionVectors", "appendOnly", "autoMerge",
      "partitionedBy", graft.operators.BloomSidecar.PropKey,
      graft.operators.NdvSidecar.PropKey)
    val m = new java.util.HashMap[String, String]()
    keys.foreach(k => Option(options.get(k)).foreach(m.put(k, _)))
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    if (changeFeed)
      // batch = Delta's readChangeFeed audit/backfill path (version
      // range via startingVersion/endingVersion); micro-batch = the
      // continuous drain with admission control
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else {
      val caps = util.EnumSet.of(
        TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.STREAMING_WRITE,
        // the table itself as a stream: initial snapshot + appends
        TableCapability.MICRO_BATCH_READ,
        // MERGE … WITH SCHEMA EVOLUTION: Spark's own
        // ResolveMergeIntoSchemaEvolution computes the source's new
        // columns and routes them through the catalog's alterTable —
        // the exact metadata-only ADD COLUMN path (collision-safe
        // physical names included). The keyword is the explicit
        // opt-in; without it MERGE stays strict.
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
      // bootstrap write to a fresh root: no schema to resolve against,
      // the write's own query schema becomes version 0's schema
      if (tableSchema.isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      // SCHEMA-EVOLVING tables (autoMerge property / mergeSchema write
      // option on path writes): Spark's TableOutputResolver would
      // reject a source carrying NEW columns during analysis, before
      // the write builder can evolve — ACCEPT_ANY_SCHEMA hands the
      // query schema through verbatim (the Delta recipe), and the
      // builder does the alignment itself: by-name against the table
      // contract, positional fallback for SQL INSERT, evolution for
      // genuinely new columns, loud for everything else
      if (options.getBoolean("autoMerge", false) ||
          options.getBoolean("mergeSchema", false))
        caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      caps
    }

  // SNAPSHOT PIN: an unpinned table resolves "latest" ONCE, here at
  // table construction — not per scan-planning call — so a DataFrame is
  // a stable snapshot (two actions on it, or two scan legs of one
  // self-join, can never read different versions when a concurrent
  // writer commits in between; the Delta-style contract). Explicit
  // versionAsOf/timestampAsOf options already pin deterministically.
  private val pinnedLatest: Option[Long] =
    if (changeFeed || options.containsKey("versionAsOf") ||
        options.containsKey("timestampAsOf")) None
    else Versioned.latestVersion(root)

  /** Read-time options + the construction-time snapshot pin. */
  private[sources] def scanOptions(
      readOptions: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    // .load(root) options arrive here; table-construction options carry
    // the same map — prefer the read-time one
    val base = if (readOptions.isEmpty) options else readOptions
    pinnedLatest match {
      case Some(v) if !base.containsKey("versionAsOf") &&
          !base.containsKey("timestampAsOf") =>
        val m = new java.util.HashMap[String, String](base)
        m.put("versionAsOf", v.toString)
        new CaseInsensitiveStringMap(m)
      case _ => base
    }
  }

  override def newScanBuilder(readOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GraftVersionedScanBuilder(tableSchema, scanOptions(readOptions))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!changeFeed,
      "the change feed is derived at commit time and read-only — " +
        "write snapshots to the root itself")
    require(!options.containsKey("versionAsOf") &&
        !options.containsKey("timestampAsOf"),
      "cannot write to a time-travel pinned snapshot — writes go to the " +
        "root (a new version)")
    // the table's own options carry the catalog-persisted layout
    // contract (clusterBy / writePartitions / targetFileBytes) — SQL
    // INSERTs have empty write options, so the builder consults both
    new GraftVersionedWriteBuilder(root, tableSchema, info, options)
  }

  // ---- SQL DELETE FROM (copy-on-write): the survivors become a new
  // version, so history is preserved and `VERSION AS OF` still shows
  // the pre-delete rows — the reference's delete-by-predicate (P10,
  // KeyedSink.deleteWhere null-keep semantics) as a SQL verb.

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !changeFeed && filters.forall(GroupParquetIo.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!changeFeed, "the change feed is read-only")
    refuseMutation("DELETE")
    val spark = SparkSession.active
    if (Versioned.latestVersion(root).isEmpty) return // nothing to delete
    val pred = filters.flatMap(GroupParquetIo.toColumn).reduceOption(_ && _)
    // changeFeedKeys tables feed the change source from DELETEs too
    val feedKeys = Option(options.get("changeFeedKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    pred match {
      // MERGE-ON-READ delete (`deletionVectors=true` table property):
      // the new version hard-links every data file and records the
      // matching ROW POSITIONS in per-file sidecars — a one-row DELETE
      // writes bytes proportional to the deleted rows, never to the
      // touched files (the point-mutation shape the reference's
      // per-record cleanup deletes have, del_unuse_record_in_kilid.py:
      // 20-24). Null-predicate rows are naturally kept: only rows the
      // predicate evaluates TRUE get a position. TRUNCATE (no
      // predicate) stays copy-on-write — an all-rows DV would be the
      // worst of both worlds.
      case Some(p) if options.getBoolean("deletionVectors", false) =>
        VersionedWriteIo.deleteViaDv(spark, root, p,
          Option(options.get("colmap")), Some(tableSchema), feedKeys)
      case _ =>
        // copy-on-write: survivors become a new version. Read with the
        // TABLE schema, not footer inference: a snapshot holding
        // pre-evolution files next to evolved ones must null-fill the
        // added columns, or the rewrite would silently drop them. A
        // snapshot carrying deletion vectors reads through the
        // DV-applying scan instead (raw files would resurrect deleted
        // rows), aligned to the table schema the same way.
        val latest = Versioned.latestVersion(root).get
        val vdir = java.nio.file.Paths.get(s"$root/v=$latest")
        val colMap = GraftVersionedTable.colMapOf(options)
        def physOf(n: String) = colMap.getOrElse(n, n)
        // row tracking: the rewrite must carry survivors' ids — read
        // them through the scan's `_row_id` and keep them as the
        // materialized physical column through the survivor filter
        val tracked = graft.operators.RowIds.enabled(root)
        val cur =
          if (tracked) {
            val rdr = spark.read.format("graft-versioned")
              .option("versionAsOf", latest.toString)
            val snap = Option(options.get("colmap")).filter(_.nonEmpty)
              .fold(rdr)(m => rdr.option("colmap", m)).load(root)
            // align to the table contract (a column no file carries yet
            // null-fills — the scan surfaces logical names already),
            // then carry each survivor's id as the materialized column
            val dataCols =
              if (tableSchema.isEmpty)
                snap.columns.toSeq.map(org.apache.spark.sql.functions.col)
              else tableSchema.fields.toSeq.map { f =>
                if (snap.schema.fieldNames.contains(f.name))
                  org.apache.spark.sql.functions.col(f.name)
                else org.apache.spark.sql.functions.lit(null)
                  .cast(f.dataType).as(f.name)
              }
            snap.select((dataCols ++ Seq(
              org.apache.spark.sql.functions.col(GraftVersionedTable.RowIdColumn)
                .as(graft.operators.RowIds.MaterializedCol),
              org.apache.spark.sql.functions.col(GraftVersionedTable.RowVerColumn)
                .as(graft.operators.RowIds.MaterializedVerCol))): _*)
          } else if (graft.operators.DeletionVectors.hasDvs(vdir)) {
            // raw snapshot frames carry PHYSICAL names — project each
            // table column from its physical twin (null-fill absents)
            val snap = Versioned.readSnapshot(spark, root, latest)
            if (tableSchema.isEmpty) snap
            else snap.select(tableSchema.fields.map { f =>
              if (snap.schema.fieldNames.contains(physOf(f.name)))
                org.apache.spark.sql.functions.col(physOf(f.name)).as(f.name)
              else org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name)
            }.toIndexedSeq: _*)
          } else if (tableSchema.nonEmpty)
            spark.read
              .schema(GraftVersionedTable.physicalSchema(tableSchema, colMap))
              .parquet(Versioned.dataFiles(vdir).map(_.toString): _*)
              .toDF(tableSchema.fieldNames.toIndexedSeq: _*)
          else Versioned.read(spark, root)
        val keep = pred match {
          // SQL DELETE removes rows where the predicate is TRUE; rows
          // where it evaluates NULL are KEPT (the P10 null-keep rule) —
          // a plain filter(!p) would silently drop them
          case Some(p) => cur.filter(
            org.apache.spark.sql.functions.not(
              org.apache.spark.sql.functions.coalesce(
                p, org.apache.spark.sql.functions.lit(false))))
          case None => cur.limit(0) // TRUNCATE TABLE: empty survivors
        }
        // survivors rewrite under PHYSICAL names — every file of a
        // column-mapped table stores birth names, whatever wrote it
        val keepPhys =
          if (colMap.isEmpty) keep
          else keep.toDF(keep.columns.map(physOf).toIndexedSeq: _*)
        // the survivors are v=latest's: a commit racing the rewrite
        // fails it rather than vanishing under it
        val v = Versioned.writeOver(keepPhys, root, latest,
          "a copy-on-write DELETE", Some(VersionedWriteIo.stampValue(None)))
        if (feedKeys.nonEmpty)
          Versioned.writeFeedFor(spark, root, v, tableSchema, feedKeys,
            tableSchema.fieldNames.filterNot(feedKeys.contains).toSeq, colMap)
    }
  }

  // ---- `_file` + `_pos` metadata columns (Delta's
  // `_metadata.file_path`/`row_index` shape): row provenance for
  // audits, the REQUIRED metadata attribute of the group-based
  // operation below (Spark's ReplaceDataExec only routes rows through
  // its data projection when the operation declares metadata), and the
  // delta operations' row id.
  override def metadataColumns(): Array[MetadataColumn] =
    if (graft.operators.RowIds.enabled(root))
      Array(GraftVersionedTable.FileMetadataColumn,
        GraftVersionedTable.PosMetadataColumn,
        GraftVersionedTable.RowIdMetadataColumn,
        GraftVersionedTable.RowVerMetadataColumn)
    else
      Array(GraftVersionedTable.FileMetadataColumn,
        GraftVersionedTable.PosMetadataColumn)

  // ---- SQL UPDATE / MERGE INTO / arbitrary-predicate DELETE: the
  // group-based (copy-on-write) row-level operation with the DATA FILE
  // as the replacement group. Spark rewrites the command into
  // scan-current → transform → ReplaceData; files whose statistics
  // refute the condition are never scanned and hard-link into the new
  // version unchanged, so a one-row UPDATE rewrites one file. The
  // replacement lands as a NEW version — history is preserved and
  // `VERSION AS OF` still shows the pre-mutation rows. Translatable
  // DELETE predicates never get here — Spark's
  // OptimizeMetadataOnlyDeleteFromTable routes them to `deleteWhere`
  // above; this path catches everything that rule cannot express
  // (modulo predicates, subqueries, UPDATE, MERGE).

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(!changeFeed, "the change feed is read-only")
    refuseMutation(info.command.toString)
    new RowLevelOperationBuilder {
      // a deletionVectors table mutates MERGE-ON-READ through the
      // delta protocol (per-row deltas → DV sidecars + insert files,
      // zero file rewrites); everything else stays group-based
      // copy-on-write
      override def build(): RowLevelOperation =
        if (options.getBoolean("deletionVectors", false) &&
            Versioned.latestVersion(root).nonEmpty)
          new GraftDeltaOperation(GraftVersionedTable.this, root,
            tableSchema, options, info.command)
        else
          new GraftRowLevelOperation(GraftVersionedTable.this, root,
            tableSchema, options, info.command)
    }
  }
}

/** Group-based row-level operation over the version store with the
  * WHOLE SNAPSHOT as the single replacement group — correct by
  * construction for an immutable version store, where every mutation
  * commits a full new version anyway, so "replace the groups the scan
  * read" and "write version N+1" coincide. UPDATE arrives from Spark's
  * rewrite as a conditional projection over the snapshot scan, MERGE
  * as a join against the source, DELETE (the non-translatable-predicate
  * fallback) as a survivor filter — in every case the rewritten query's
  * output IS the next snapshot, committed through the replace-mode
  * write. (The Delta-style mutation surface; reference per-document
  * mutation shape: dags/collection_cleanup DAG's update-in-place pass.) */
private[sources] class GraftRowLevelOperation(
    table: GraftVersionedTable, root: String, tableSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** Set by the scan when it plans partitions (driver side), consumed
    * by the write at commit time (same JVM, same operation instance —
    * the Iceberg copy-on-write linkage): the snapshot version the scan
    * read and the file names it actually scanned. Files NOT scanned
    * carry into the new version as hard-links — a one-row UPDATE
    * rewrites one file, not the table. */
  @volatile private[sources] var scannedState: Option[(Long, Set[String])] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-versioned $cmd (copy-on-write, group = data file)"

  // _file keeps Spark's rewrite on the metadata-projecting write path
  // (see metadataColumns on the table), feeds its per-group metrics,
  // and is the key the runtime group-filter subquery prunes on
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(GraftVersionedTable.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this, tableSchema, table.scanOptions(options))

  // replace-mode write: the rewritten query's output replaces exactly
  // the files the scan read (all of them when nothing was pruned)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the group-based rewrite flows through Spark's generic
    // ReplaceData plan, which does not hand source row ids to the
    // writer — executing it on a row-tracking table would silently
    // reassign every rewritten row's id. Refused HERE, not at
    // operation build: a translatable DELETE builds the operation
    // during analysis but then reroutes to deleteWhere (which
    // materializes ids itself) and never reaches this write.
    // Merge-on-read preserves ids by construction — steer there.
    if (graft.operators.RowIds.enabled(root))
      throw new UnsupportedOperationException(
        s"graft-versioned: $cmd on row-tracking table `$root` requires " +
          "merge-on-read — set TBLPROPERTIES ('deletionVectors'='true') " +
          "so mutations preserve row ids")
    val b = new GraftVersionedWriteBuilder(root, tableSchema, info,
      tableOptions, rowLevelOp = Some(this))
    b.truncate()
    b
  }
}

/** Scan builder for a row-level operation. Pushed filters here are the
  * COMMAND's condition arriving as a group-selection hint (Spark's
  * GroupBasedRowLevelOperationScanPlanning): the scan may use them to
  * skip whole groups that contain no matching row, but must return
  * EVERY row of any group it keeps — the non-matching rows of kept
  * groups are carried over into the replacement by the rewrite query
  * itself. The replacement group here is the DATA FILE: a file is
  * pruned only when footer statistics refute the condition for every
  * row group in it (no row needs modification), and pruned files are
  * hard-linked into the new version at commit. Record-level filtering
  * would be data loss; per-row-group pruning would be too (the write
  * replaces whole files). */
private[sources] class GraftRowLevelScanBuilder(
    op: GraftRowLevelOperation, fullSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var groupHints: Array[Filter] = Array.empty
  private val colMap = GraftVersionedTable.colMapOf(options)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    groupHints = filters.filter(GroupParquetIo.translatable(_, fullSchema))
    // NOTHING is fully applied at row level — everything stays residual
    filters
  }

  override def pushedFilters(): Array[Filter] = groupHints

  override def build(): Scan = {
    // hand the scan PHYSICAL hints + physically-keyed types: footer
    // pruning compares against file schemas, which speak birth names
    val types: Map[String, DataType] =
      groupHints.flatMap(_.references).distinct.flatMap(n =>
        fullSchema.fields.find(_.name == n)
          .map(f => colMap.getOrElse(f.name, f.name) -> f.dataType)).toMap
    new GraftRowLevelScan(op, required, fullSchema,
      groupHints.map(GroupParquetIo.mapFilter(_, colMap)), types, options)
  }
}

/** The row-level operation's scan: reads every row of every file it
  * keeps (no record filter, no row-group split pruning) and reports
  * the kept file set to the operation so the write replaces exactly
  * those files. Static group hints AND runtime filters (the `_file IN
  * (…)` set from Spark's runtime group-filter subquery, or data-column
  * join keys) prune at FILE granularity only. */
private[sources] class GraftRowLevelScan(
    op: GraftRowLevelOperation, required: StructType,
    fullSchema: StructType, hints: Array[Filter],
    hintTypes: Map[String, DataType], options: CaseInsensitiveStringMap)
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  private val root = GraftVersionedTable.rootOf(options)
  private val colMap = GraftVersionedTable.colMapOf(options)

  @volatile private var runtimeData: Array[Filter] = Array.empty
  @volatile private var runtimeFile: Array[Filter] = Array.empty

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftRowLevelScan `$root`, ReadColumns: " +
      s"[${required.fieldNames.mkString(", ")}], " +
      s"GroupHints: [${hints.mkString(", ")}]"

  // `_file` ONLY: with several attributes Spark's runtime group-filter
  // subquery filters on ONE struct over all of them
  // (named_struct(...) IN subquery), which no source can translate —
  // a single attribute yields the convertible `_file IN (…)` set
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(GraftVersionedTable.FileColumn))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = org.apache.spark.sql.graftbridge.PredicateBridge.toV1(predicates)
    val (onFile, onData) = v1.partition(GroupParquetIo.onFile)
    runtimeFile = onFile
    val usable = onData.filter(GroupParquetIo.translatable(_, fullSchema))
    runtimeDataTypes = usable.flatMap(_.references).distinct.flatMap(n =>
      fullSchema.fields.find(_.name == n)
        .map(f => colMap.getOrElse(f.name, f.name) -> f.dataType)).toMap
    runtimeData = usable.map(GroupParquetIo.mapFilter(_, colMap)) // physical
  }

  @volatile private var runtimeDataTypes: Map[String, DataType] = Map.empty

  override def planInputPartitions(): Array[InputPartition] = {
    val version = GraftVersionedTable.resolveVersion(root, options)
    val dir = java.nio.file.Paths.get(root, s"v=$version")
    val dataFilters = hints ++ runtimeData
    val dataTypes = hintTypes ++ runtimeDataTypes
    // the sidecar layers run BEFORE any footer I/O, exactly like the
    // snapshot scan: a point UPDATE/DELETE on a stats-clustered or
    // bloom-indexed table then scans (and REWRITES — the kept set is
    // the replaced set) only the files that can hold a matching row,
    // and planning stops costing one footer GET per table file
    val statsKept = GroupParquetIo.pruneFilesByStats(
      GroupParquetIo.pruneFilesByName(Versioned.dataFiles(dir), runtimeFile),
      graft.operators.FileStats.read(dir), dataFilters)
    val bloomKept = GroupParquetIo.pruneFilesByBloom(statsKept, dir, dataFilters)
    val footers = GroupParquetIo.readFooters(bloomKept)
    // a file survives the data hints unless EVERY row group refutes
    // them — only then can no row need modification
    val kept = footers.filter(fg =>
      GroupParquetIo.pruneByStats(Seq(fg), dataFilters, dataTypes)
        .head.kept.nonEmpty)
    op.scannedState = Some((version,
      kept.map(fg => java.nio.file.Paths.get(fg.file).getFileName.toString).toSet))
    // full files, split per row group for parallelism — never filtered;
    // existing deletion vectors APPLY (the rewrite must not resurrect
    // rows a DV-mode DELETE already killed), and the commit drops the
    // replaced files' sidecars (the rewritten content excludes them)
    GroupParquetIo.toPartitions(kept,
      graft.operators.DeletionVectors.dvMap(dir)
        .map { case (n, p) => n -> p.toString })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VersionedReaderFactory(required, colMap)
}

// ======================================== delta (merge-on-read) mutations

/** DELTA-BASED row-level operation (`SupportsDelta`) — the
  * merge-on-read mutation protocol for `deletionVectors=true` tables:
  * instead of replacing whole files, Spark streams per-row DELTAS to
  * the writer — delete(rowId) and insert(row), with UPDATE represented
  * as delete+insert — and the commit becomes DV sidecars for the
  * deleted positions plus fresh files for the inserted rows, with
  * EVERY existing data file hard-linked over untouched. A one-row
  * UPDATE on a 1 GB file costs one sidecar entry and one tiny insert
  * file; the copy-on-write path rewrites the gigabyte. The row id is
  * `(_file, _pos)` — the same positional coordinates the DV sidecars
  * and the Iceberg delta protocol use. Unlike the group-based path the
  * scan here needs no carry-over discipline: non-matching rows produce
  * no delta, so the scan prunes on pushed predicates like any snapshot
  * read (Spark's Filter above it keeps rows exact). */
private[sources] class GraftDeltaOperation(
    private[sources] val table: GraftVersionedTable, root: String,
    tableSchema: StructType, tableOptions: CaseInsensitiveStringMap,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  /** The snapshot this statement reads and must commit against —
    * resolved once at operation build (the table's own snapshot pin
    * makes this the version every scan of the statement sees). */
  private[sources] val scannedVersion: Long =
    GraftVersionedTable.resolveVersion(root,
      table.scanOptions(CaseInsensitiveStringMap.empty()))

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-versioned $cmd (merge-on-read delta: DV sidecars + insert files)"

  override def rowId():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(GraftVersionedTable.FileColumn),
      Expressions.column(GraftVersionedTable.PosColumn))

  // immutable files cannot update in place — every UPDATE splits into
  // a DV'd delete of the old position and a REINSERT of the new row
  // (Spark hands the reinserted row its source metadata, which is how
  // row tracking carries the id through — see reinsert on the writer)
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  // row tracking: the scan hands each mutated row's STABLE id in as a
  // metadata column so the writer can materialize it into the insert
  // part file — Delta's rowTracking contract is that an UPDATE keeps
  // the row's id (only _row_commit_version bumps); without the carry,
  // delete+insert would silently mint a fresh id per updated row
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (graft.operators.RowIds.enabled(root))
      Array(Expressions.column(GraftVersionedTable.FileColumn),
        Expressions.column(GraftVersionedTable.RowIdColumn))
    else
      Array(Expressions.column(GraftVersionedTable.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftVersionedScanBuilder(tableSchema, table.scanOptions(options))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteBuilder(root, info, tableOptions, this)
}

private[sources] class GraftDeltaWriteBuilder(
    root: String, info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap, op: GraftDeltaOperation)
  extends DeltaWriteBuilder {

  override def build(): DeltaWrite = {
    // GENERATED/IDENTITY columns take the same fill pass as the
    // copy-on-write rewrite (recompute generated, pass identity
    // through, assign MERGE-inserted ids from the persisted hwm) —
    // only the INSERT half of the delta carries rows, so a
    // delete-only plan (empty data schema) skips the fill entirely
    val autoSpecs = AutoColumns.read(root)
    val autoFill =
      if (autoSpecs.isEmpty || info.schema().isEmpty) None
      else Some(AutoColumns.resolveFill(SparkSession.active, root,
        autoSpecs, info.schema(), rowLevel = true))
    val colMap = GraftVersionedTable.colMapOf(tableOptions)
    // a delete-only delta plan may carry no data columns at all; when
    // rows CAN be inserted, their types must be writable — checked
    // here at build time, before a task launches
    if (info.schema().nonEmpty)
      VersionedDataWriter.checkWritable(
        GraftVersionedTable.physicalSchema(info.schema(), colMap))
    val feedKeys = Option(tableOptions.get("changeFeedKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // idempotent application transactions for SQL row-level verbs
    // (Delta's txnAppId/txnVersion): session conf is the only channel
    // a MERGE/UPDATE/DELETE statement has — the foreachBatch
    // exactly-once primitive for merge-on-read folds
    val txn: Option[(String, Long)] = {
      val app = Option(tableOptions.get("txnAppId"))
        .orElse(VersionedWriteIo.sessionConf("graft.versioned.txnAppId"))
        .map(_.trim).filter(_.nonEmpty)
      val ver = Option(tableOptions.get("txnVersion"))
        .orElse(VersionedWriteIo.sessionConf("graft.versioned.txnVersion"))
      require(app.isDefined == ver.isDefined,
        "graft-versioned: txnAppId and txnVersion come as a pair — " +
          s"got txnAppId=${app.getOrElse("<unset>")}, " +
          s"txnVersion=${ver.getOrElse("<unset>")}")
      app.map(a => (a, ver.get.trim.toLong))
    }
    // row tracking: locate `_row_id` in the plan's metadata projection
    // so the writer can materialize update-reinserted rows' SOURCE ids
    // (delete-only plans carry no insert rows — nothing to materialize)
    val rowIdMetaIdx: Option[Int] =
      if (info.schema().isEmpty || !graft.operators.RowIds.enabled(root))
        None
      else {
        val ms = info.metadataSchema()
        require(ms.isPresent && ms.get.fieldNames
            .contains(GraftVersionedTable.RowIdColumn),
          "graft-versioned: row-tracking merge-on-read write without a " +
            "`_row_id` metadata column in the plan")
        Some(ms.get.fieldIndex(GraftVersionedTable.RowIdColumn))
      }
    new GraftDeltaWrite(root, info.schema(), colMap,
      Option(tableOptions.get("commitTs")).map(_.toLong),
      info.queryId(), feedKeys, op, txn, autoFill, rowIdMetaIdx,
      VersionedWriteIo.messageOf(Option(tableOptions.get("commitMessage"))))
  }
}

private[sources] class GraftDeltaWrite(
    root: String, dataSchema: StructType, colMap: Map[String, String],
    commitTs: Option[Long], queryId: String, feedKeys: Seq[String],
    op: GraftDeltaOperation, txn: Option[(String, Long)] = None,
    autoFill: Option[AutoColumns.Fill] = None,
    rowIdMetaIdx: Option[Int] = None,
    message: Option[String] = None)
  extends DeltaWrite {

  override def description(): String =
    s"GraftDeltaWrite merge-on-read `$root` (scanned v=${op.scannedVersion})"

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(root, dataSchema, colMap, commitTs, queryId,
      feedKeys, op, txn, autoFill, rowIdMetaIdx, message)
}

/** One staged message per task: the insert part file it cut (if any
  * row was inserted), one DV FRAGMENT per data file it deleted
  * from (`_dvfrag/<dataFileName>/<task>.dv`) and, on a feeding table,
  * its share of the change feed (None: the task wrote none). The
  * driver merges fragments per data file with the base version's
  * sidecars at commit — driver work is O(deleted positions + files),
  * never row data. */
private[sources] case class StagedDeltaMessage(
    insertFiles: Seq[String], fragments: Seq[String],
    feed: Option[TaskFeed.Part] = None)
  extends WriterCommitMessage

private[sources] class GraftDeltaBatchWrite(
    root: String, dataSchema: StructType, colMap: Map[String, String],
    commitTs: Option[Long], queryId: String, feedKeys: Seq[String],
    op: GraftDeltaOperation, txn: Option[(String, Long)] = None,
    autoFill: Option[AutoColumns.Fill] = None,
    rowIdMetaIdx: Option[Int] = None,
    message: Option[String] = None)
  extends DeltaBatchWrite {

  private val staged = java.nio.file.Paths.get(
    root, s"_staging_delta_${queryId}_${java.util.UUID.randomUUID.toString.take(8)}")

  // the feed the write tasks pair and write themselves (None: the
  // commit derives it with Versioned.writeFeedFor)
  private var feed: Option[TaskFeed.Spec] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    java.nio.file.Files.createDirectories(staged)
    if (feedKeys.nonEmpty)
      feed = TaskFeed.spec(root, op.table.schema(), feedKeys, colMap,
        op.scannedVersion, pairs = true)
    GraftDeltaWriterFactory(
      GraftVersionedTable.physicalSchema(dataSchema, colMap), staged.toString,
      autoFill, math.max(1, info.numPartitions()), rowIdMetaIdx, feed)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // idempotent transaction replay (the foreachBatch exactly-once
    // primitive, extended to merge-on-read): a (txnAppId, txnVersion)
    // the table has already recorded drops its staged delta and
    // commits NOTHING — a replayed MERGE after a crash recomputes
    // against already-updated state, and its delta must not re-apply.
    // The transaction rides the commit record, published by the same
    // claim as the DV sidecars.
    txn match {
      case Some((app, ver)) if VersionedWriteIo.txnCommitted(root, app, ver) =>
        Versioned.deleteRecursively(staged)
        feed.foreach(TaskFeed.drop)
        return
      case _ => ()
    }
    // drop leftovers of speculative/failed attempts: only files named
    // in a commit message survive (inserts AND fragments)
    val dataMsgs = AutoFillCommitMessage.unwrap(messages).collect {
      case m: StagedDeltaMessage => m }
    val keepInserts = dataMsgs.flatMap(_.insertFiles).toSet
    Versioned.listParquet(staged)
      .filterNot(f => keepInserts(f.getFileName.toString))
      .foreach(java.nio.file.Files.delete(_))
    VersionedWriteIo.keepFragments(staged, dataMsgs.flatMap(_.fragments).toSet)
    val committed =
      try VersionedWriteIo.commitDelta(root, staged,
        op.scannedVersion, VersionedWriteIo.stampValue(commitTs), txn, message)
      catch { case e: Throwable => feed.foreach(TaskFeed.drop); throw e }
    // MERGE-inserted identity values advance the persisted high-water
    // mark exactly like batch inserts do
    autoFill.foreach(f => AutoColumns.advanceHwm(root,
      AutoFillCommitMessage.nextBases(f, messages)))
    if (feedKeys.nonEmpty)
      TaskFeed.finish(root, feed, dataMsgs.map(_.feed), committed) {
        Versioned.writeFeedFor(SparkSession.active, root, committed,
          op.table.schema(), feedKeys,
          op.table.schema().fieldNames.filterNot(feedKeys.contains).toSeq,
          colMap)
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Versioned.deleteRecursively(staged)
    feed.foreach(TaskFeed.drop)
  }
}

private[sources] case class GraftDeltaWriterFactory(
    physSchema: StructType, stagingDir: String,
    autoFill: Option[AutoColumns.Fill] = None, numPartitions: Int = 1,
    rowIdMetaIdx: Option[Int] = None, feed: Option[TaskFeed.Spec] = None)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val inner = new GraftDeltaDataWriter(stagingDir,
      f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID.toString.take(8)}",
      physSchema, rowIdMetaIdx, feed)
    autoFill.fold(inner: DeltaWriter[InternalRow])(f =>
      new AutoFillDeltaWriter(inner, f, numPartitions, partitionId))
  }
}

/** Merge-on-read twin of [[AutoFillDataWriter]]: only the INSERT half
  * of a delta carries rows (UPDATE arrives as delete+insert), so the
  * fill pass applies there — generated columns recompute, identity
  * values pass through non-null and assign from the high-water mark
  * when a MERGE insert arrives null; deletes pass untouched. */
private[sources] class AutoFillDeltaWriter(
    inner: DeltaWriter[InternalRow], fill: AutoColumns.Fill,
    numPartitions: Int, partitionId: Int)
  extends DeltaWriter[InternalRow] {

  private val filler = new RowFiller(fill, numPartitions, partitionId)

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    inner.delete(metadata, id)
  override def insert(row: InternalRow): Unit = inner.insert(filler(row))
  // reinserts (the insert half of a split UPDATE) keep their metadata
  // linkage — the inner writer needs it to carry the source row id
  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    inner.reinsert(metadata, filler(row))
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    inner.delete(metadata, id)
    inner.reinsert(metadata, filler(row))
  }
  override def commit(): WriterCommitMessage =
    AutoFillCommitMessage(inner.commit(), partitionId, numPartitions,
      filler.assigned.toMap)
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Executor-side delta writer: inserted rows stream into one lazy
  * parquet part file; deleted `(_file, _pos)` ids accumulate per data
  * file and flush as DV fragments at task commit, where a feeding
  * table's task also pairs and writes its feed rows ([[TaskFeed]]).
  * The id arrives in [[GraftDeltaOperation.rowId]] order: (file path
  * string, position). */
private[sources] class GraftDeltaDataWriter(
    dir: String, baseName: String, physSchema: StructType,
    rowIdMetaIdx: Option[Int] = None, feed: Option[TaskFeed.Spec] = None)
  extends DeltaWriter[InternalRow] {

  // row tracking: the insert part file carries a NULLABLE physical id
  // column — update-reinserted rows materialize their SOURCE id (the
  // stable-id contract: an UPDATE keeps the row's id, only
  // `_row_commit_version` bumps to this commit via the file's sidecar
  // entry), true inserts write NULL and derive fresh ids from the
  // file's base range at read time (the same mixed-file shape the
  // copy-on-write rewrite emits for MERGE-inserted rows)
  private val writeSchema = rowIdMetaIdx.fold(physSchema)(_ =>
    physSchema.add(StructField(graft.operators.RowIds.MaterializedCol,
      LongType, nullable = true)))

  private val insertWriter =
    new VersionedDataWriter(dir, baseName + ".parquet", writeSchema)
  private val deletes =
    scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  // reused per-row buffers: VersionedDataWriter consumes the row
  // synchronously, so one id cell + one join shell suffice
  private val idCell = new GenericInternalRow(1)
  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow

  // keyed by the data file's path in the scanned version
  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes.getOrElseUpdate(id.getUTF8String(0).toString,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)

  override def insert(row: InternalRow): Unit = rowIdMetaIdx match {
    case None => insertWriter.write(row)
    case Some(_) =>
      idCell.update(0, null)
      insertWriter.write(joined(row, idCell))
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    rowIdMetaIdx match {
      case None => insertWriter.write(row)
      case Some(mi) =>
        idCell.update(0, metadata.getLong(mi))
        insertWriter.write(joined(row, idCell))
    }

  // defensive: representUpdateAsDeleteAndInsert=true means Spark
  // splits updates before they reach the writer
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    reinsert(metadata, row)
  }

  private def nameOf(path: String): String =
    java.nio.file.Paths.get(path).getFileName.toString

  override def commit(): WriterCommitMessage = {
    val insertMsg = insertWriter.commit() match {
      case StagedFilesMessage(fs) => fs
      case _ => Seq.empty
    }
    val positions = deletes.toSeq.map { case (path, ps) => path -> ps.toArray.distinct.sorted }
    val frags = positions.map { case (path, ps) =>
      val rel = s"${nameOf(path)}/$baseName.dv"
      graft.operators.DeletionVectors.write(
        java.nio.file.Paths.get(dir, VersionedWriteIo.FragDir, rel), ps)
      rel
    }
    // the insert file is closed: its rows read back as stored
    val feedPart = feed.flatMap(TaskFeed.write(_, baseName + ".parquet", positions,
      insertMsg.map(java.nio.file.Paths.get(dir, _))))
    StagedDeltaMessage(insertMsg, frags, feedPart)
  }

  override def abort(): Unit = {
    insertWriter.abort()
    deletes.keys.foreach { path =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        dir, VersionedWriteIo.FragDir, nameOf(path), baseName + ".dv"))
    }
  }

  override def close(): Unit = ()
}

private[sources] class GraftVersionedScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, GenericInternalRow, String)] = None
  private var limit: Option[Int] = None

  // column mapping: predicates arrive logical, footers speak physical —
  // translate once here, at the boundary; `required` stays logical
  // (it IS the scan's output schema) and the reader maps per lookup
  private val colMap = GraftVersionedTable.colMapOf(options)

  // MERGE-ON-READ snapshots (deletion vectors present): footer-only
  // shortcuts (LIMIT group-trimming, aggregate pushdown) refuse
  // themselves — footer row counts include DV'd rows.
  private lazy val dvPresent: Boolean =
    GraftVersionedTable.snapshotHasDvs(options)

  // PARTIAL limit pushdown (isPartiallyPushed stays true, Spark keeps
  // the final LIMIT): the scan schedules only enough row groups to
  // cover n rows and each reader stops early — correct under parallel
  // partitions precisely because the engine-side LIMIT remains
  override def pushLimit(n: Int): Boolean =
    if (dvPresent) false else { limit = Some(n); true }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // translatability is judged in LOGICAL names (the schema Spark
    // sees); the stored pushed set is PHYSICAL (what footers speak)
    pushedLogical = filters.filter(GroupParquetIo.translatable(_, fullSchema))
    pushed = pushedLogical.map(GroupParquetIo.mapFilter(_, colMap))
    pushedOnFile = filters.filter(GroupParquetIo.onFile)
    // the pushed set prunes files and row groups only — Spark
    // re-applies every filter above the scan (as for its own parquet
    // scan)
    filters
  }

  private var pushedLogical: Array[Filter] = Array.empty
  private var pushedOnFile: Array[Filter] = Array.empty

  override def pushedFilters(): Array[Filter] = pushedLogical

  // ---- aggregate pushdown: global COUNT(*) / COUNT(col) / MIN / MAX
  // answered ENTIRELY from parquet footers — row counts, null counts,
  // and column min/max statistics. The scan then ships ONE precomputed
  // row instead of scanning data: `SELECT count(*) FROM fact` over a
  // 100 TB snapshot costs one footer read per file, not a cluster-wide
  // scan. Refused (falls back to a normal scan) whenever exactness is
  // not guaranteed: any pushed filter, any GROUP BY, DISTINCT, an
  // unsupported function, a non-statistics-safe column type, or a file
  // whose footer lacks the needed statistic.

  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.NamedReference

  private def aggField(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
    e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == n.fieldNames()(0))
      case _ => None
    }

  // min/max only for types whose footer stats order matches Spark's
  // (strings excluded: writers may truncate binary stats)
  private def statOrdered(f: StructField): Boolean = f.dataType match {
    case LongType | IntegerType | DoubleType | FloatType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def structurallyAnswerable(agg: Aggregation): Boolean =
    pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      !GraftVersionedTable.isChangeFeed(options) &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        // under deletion vectors ONLY COUNT(*) stays footer-exact
        // (row counts minus sidecar cardinalities); a deleted row may
        // have held the min/max or a column's only null, so everything
        // else must scan
        case _: CountStar => true
        case c: Count => !dvPresent && !c.isDistinct && aggField(c.column).isDefined
        case m: Min => !dvPresent && aggField(m.column).exists(statOrdered)
        case m: Max => !dvPresent && aggField(m.column).exists(statOrdered)
        case _ => false
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    structurallyAnswerable(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!structurallyAnswerable(agg)) return false
    val answer = GroupParquetIo.answerFromFooters(agg, fullSchema, options)
    aggAnswer = answer
    answer.isDefined
  }

  override def build(): Scan = aggAnswer match {
    case Some((schema, row, desc)) => new GraftAggregateScan(schema, row, desc)
    case None =>
      // the reader needs the types of filter-referenced columns even when
      // they are pruned from the output projection — keyed PHYSICAL,
      // typed from the LOGICAL schema
      val filterTypes: Map[String, DataType] =
        pushedLogical.flatMap(_.references).distinct.flatMap(n =>
          fullSchema.fields.find(_.name == n)
            .map(f => colMap.getOrElse(f.name, f.name) -> f.dataType)).toMap
      new GraftVersionedScan(required, pushed, filterTypes, options, limit,
        onFile = pushedOnFile)
  }
}

/** The result of a fully-pushed-down aggregate: one precomputed row,
  * no data scan. Statistics are exact (it IS the final answer). */
private[sources] class GraftAggregateScan(
    schema: StructType, row: GenericInternalRow, desc: String)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = schema
  override def description(): String = desc
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(AggRowPartition(row))

  override def createReaderFactory(): PartitionReaderFactory =
    AggRowReaderFactory

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(8L * schema.length)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(1L)
  }
}

private[sources] case class AggRowPartition(row: GenericInternalRow)
  extends InputPartition

private[sources] object AggRowReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = partition.asInstanceOf[AggRowPartition].row
      override def close(): Unit = ()
    }
}

private[sources] class GraftVersionedScan(
    required: StructType, pushed: Array[Filter],
    filterTypes: Map[String, DataType], options: CaseInsensitiveStringMap,
    limit: Option[Int] = None, runtimeFilterable: Boolean = true,
    onFile: Array[Filter] = Array.empty)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering
  with SupportsReportPartitioning {

  private val root = GraftVersionedTable.rootOf(options)

  // BATCH change-feed read (Delta's `readChangeFeed` shape): the stored
  // feed versions in [startingVersion, endingVersion] as one
  // distributed scan — the audit/backfill path that should not need to
  // spin up a streaming query. Both bounds are inclusive commit
  // versions; endingVersion defaults to the newest stored feed.
  private val changeFeed = GraftVersionedTable.isChangeFeed(options)

  /** Feed versions this batch scan covers — resolved once, loudly. */
  private lazy val feedRange: Seq[Long] = GraftVersionedTable.feedRange(root, options)

  // ---- runtime filtering: broadcast-join key sets (and DPP
  // subqueries) arrive here AT EXECUTION start; they re-run the same
  // footer stats prune, so a fact-table scan joined to a filtered
  // dimension schedules only the row groups whose min/max overlap the
  // surviving keys. The row-level operation path constructs this scan
  // with runtimeFilterable=false (its replacement group is the whole
  // snapshot — pruning ANYTHING would drop carry-over rows).
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var runtimeFilterTypes: Map[String, DataType] = Map.empty
  @volatile private var cachedGroups: Seq[GroupParquetIo.FileGroups] = _

  private val colMap = GraftVersionedTable.colMapOf(options)

  // both arrays/maps live in PHYSICAL name space (pushed arrives
  // translated from the builder; runtime filters translate on entry)
  private def allFilters: Array[Filter] = pushed ++ runtimeFilters
  private def allFilterTypes: Map[String, DataType] =
    filterTypes ++ runtimeFilterTypes

  /** BUCKET PRUNING: an equality probe on a bucket-partitioned key
    * implies the probe's bucket id — `k = v` keeps only files whose
    * stats pin `bucket(v)` (Hive/Iceberg bucket pruning through the
    * stats layer: a point lookup on a 100 TB bucketed fact table reads
    * 1/n of the snapshot). Files written OUTSIDE the contract (a path
    * append without the derived column, or with nulls in it) are kept
    * by the IsNull arm — the synthetic filter never refutes a file the
    * real predicate couldn't. File-level only: a surviving file pins
    * one bucket, so its row groups all qualify. */
  private def bucketPruneFilters: Array[Filter] =
    Option(options.get("partitionedBy"))
      .map(PartitionTransforms.parse).getOrElse(Seq.empty)
      .collect { case b: PartitionTransforms.BucketPart =>
        val srcPhys = colMap.getOrElse(b.sourceCol, b.sourceCol)
        val dstPhys = colMap.getOrElse(b.clusterCol, b.clusterCol)
        def id(v: Any): Option[Int] =
          PartitionTransforms.bucketIdOfExternal(v, b.numBuckets)
        allFilters.flatMap {
          case EqualTo(`srcPhys`, v) if v != null =>
            id(v).map(i => Or(EqualTo(dstPhys, i), IsNull(dstPhys)): Filter)
          case EqualNullSafe(`srcPhys`, v) if v != null =>
            id(v).map(i => Or(EqualTo(dstPhys, i), IsNull(dstPhys)): Filter)
          case In(`srcPhys`, vs) if vs != null && vs.nonEmpty &&
              !vs.contains(null) =>
            val ids = vs.toSeq.map(id)
            if (ids.exists(_.isEmpty)) None
            else Some(Or(In(dstPhys, ids.flatten.distinct.map(Int.box).toArray),
              IsNull(dstPhys)): Filter)
          case _ => None
        }.toSeq
      }.flatten.toArray

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!runtimeFilterable) Array.empty
    else required.fields
      .filter(f => GroupParquetIo.translatable(IsNotNull(f.name), required))
      .map(f => Expressions.column(f.name))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val usable = org.apache.spark.sql.graftbridge.PredicateBridge
      .toV1(predicates)
      .filter(GroupParquetIo.translatable(_, required))
    if (runtimeFilterable && usable.nonEmpty) {
      runtimeFilterTypes = usable.flatMap(_.references).distinct.flatMap(n =>
        required.fields.find(_.name == n)
          .map(f => colMap.getOrElse(f.name, f.name) -> f.dataType)).toMap
      runtimeFilters = usable.map(GroupParquetIo.mapFilter(_, colMap))
      cachedGroups = null
    }
  }

  override def readSchema(): StructType = required

  // a catalog table between CREATE and its first INSERT has a schema
  // (the manifest) but no versions — that is a legitimate empty table,
  // not an error; an explicit versionAsOf/timestampAsOf on such a root
  // still fails loudly through resolveVersion
  private def uninitialized: Boolean =
    Versioned.latestVersion(root).isEmpty &&
      !options.containsKey("versionAsOf") &&
      !options.containsKey("timestampAsOf")

  /** Driver-side plan state, ONE footer read per data file, shared by
    * partition planning and `estimateStatistics`. Pushed predicates
    * prune whole row groups here through parquet's own
    * StatisticsFilter (min/max/null-count — the same rule the
    * executor reader applies), so a selective filter on a CLUSTERED
    * table shrinks the TASK COUNT at the driver, not just the bytes
    * each task reads: at 100 TB the scheduler never even launches the
    * groups the layout excludes. */
  /** (files kept, files total) of the manifest-stats file prune — set
    * by [[plannedGroups]], surfaced in the explain description so plan
    * audits can SEE skipping happen without counting tasks. */
  @volatile private var fileCounts: (Int, Int) = (0, 0)

  private def plannedGroups: Seq[GroupParquetIo.FileGroups] = {
    val cached = cachedGroups
    if (cached != null) return cached
    val computed =
      if (changeFeed) {
        // feed dirs carry no stats/bloom sidecars (diff rows, written
        // once, never mutated) — footer row-group pruning is the
        // skipping layer; a filter on commit_version prunes groups
        // because each feed file holds exactly one version's rows
        val files = feedRange.flatMap(v => Versioned.dataFiles(
          java.nio.file.Paths.get(Versioned.feedDir(root, v))))
        fileCounts = (files.size, files.size)
        GroupParquetIo.pruneByStats(
          GroupParquetIo.readFooters(files), allFilters, allFilterTypes)
      } else if (uninitialized) Seq.empty[GroupParquetIo.FileGroups]
      else {
        val dir = GraftVersionedTable.snapshotDir(root, options)
        // catalog tables resolve schema from the manifest, so a bad
        // versionAsOf would otherwise sail through to an empty file
        // listing and silently read as zero rows — fail loudly instead
        require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)),
          s"graft-versioned: version dir $dir does not exist " +
            s"(existing: ${Versioned.versions(root).mkString("v=", ", v=", "")})")
        val dirPath = java.nio.file.Paths.get(dir)
        val all = Versioned.dataFiles(dirPath)
        // FILE-level skip by name (`_file` predicates), then from the
        // commit's stats sidecar, BEFORE any footer is opened: at
        // object-store scale planning cost is one round trip per
        // surviving file, so a selective predicate on a clustered table
        // prunes most of the snapshot for the price of one sidecar
        // read. Row-group pruning still runs on survivors.
        val kept = GroupParquetIo.pruneFilesByStats(
          GroupParquetIo.pruneFilesByName(all, onFile),
          graft.operators.FileStats.read(dirPath),
          allFilters ++ bucketPruneFilters)
        // second file-level layer: per-file Bloom membership refutes
        // equality probes min/max can't (high-cardinality keys scatter
        // across every file's [min, max] span)
        val keptBloom = GroupParquetIo.pruneFilesByBloom(
          kept, dirPath, allFilters)
        fileCounts = (keptBloom.size, all.size)
        GroupParquetIo.pruneByStats(
          GroupParquetIo.readFooters(keptBloom), allFilters, allFilterTypes)
      }
    cachedGroups = computed
    computed
  }

  override def description(): String = {
    val what =
      if (changeFeed)
        // exception-safe: description() runs inside plan stringification
        // (EXPLAIN, SparkPlanInfo for the UI), where feedRange's loud
        // require()s (empty stored feed, out-of-range startingVersion)
        // must not turn a describe into a throw — resolution failures
        // stay loud where they belong, in plannedGroups /
        // planInputPartitions
        scala.util.Try(
          s"changeFeed versions=[${feedRange.headOption.getOrElse(-1L)}, " +
            s"${feedRange.lastOption.getOrElse(-1L)}], " +
            s"FeedFiles: ${fileCounts._2}").getOrElse("changeFeed")
      else if (uninitialized) "version=<empty table>"
      else {
        val kept = plannedGroups.map(_.kept.size).sum
        val total = plannedGroups.map(_.total).sum
        val (fKept, fTotal) = fileCounts // populated by plannedGroups
        val dvs = graft.operators.DeletionVectors.dvMap(
          java.nio.file.Paths.get(
            GraftVersionedTable.snapshotDir(root, options))).size
        s"version=${GraftVersionedTable.resolveVersion(root, options)}, " +
          s"DataFiles: $fKept/$fTotal, RowGroups: $kept/$total" +
          (if (dvs > 0) s", DeletionVectors: $dvs" else "")
      }
    s"GraftVersionedScan $what, " +
      s"ReadColumns: [${required.fieldNames.mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      limit.map(n => s", PushedLimit: $n").getOrElse("")
  }

  override def toBatch: Batch = this

  // ------------------------- storage-partitioned joins (Iceberg SPJ)
  /** Per-file partition KEY values when this scan can participate in a
    * storage-partitioned join: the table is `PARTITIONED BY`, the user
    * enabled `spark.sql.sources.v2.bucketing.enabled`, every partition
    * column is in this scan's output, and EVERY kept file's statistics
    * pin an exact single value (min == max) for every partition column
    * — the identity-partition invariant the clustered write maintains.
    * Two co-partitioned tables joining on the partition columns then
    * skip BOTH exchanges (Spark groups splits by key and aligns the
    * sides) — at 100 TB the fact⋈fact join that would shuffle
    * everything becomes a zipped per-partition merge. Any uncertainty
    * (a spanning file, a missing stat, an unsupported type) reports
    * UnknownPartitioning — never a wrong key. */
  private lazy val spjKeys: Option[(Seq[PartitionTransforms.Entry],
      Map[String, Array[Any]])] =
    if (uninitialized || changeFeed) None
    else if (!scala.util.Try(SparkSession.active.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
        .getOrElse(false)) None
    else Option(options.get("partitionedBy"))
      .map(PartitionTransforms.parse)
      // identity + bucket entries report keys (the key VALUE is the
      // column value / the stored bucket id); temporal transforms are a
      // pruning device, not a join key — withdraw. Every entry's SOURCE
      // column must be in this scan's output (the join references it).
      .filter(es => es.nonEmpty &&
        es.forall {
          case _: PartitionTransforms.TemporalPart => false
          case e => required.fieldNames.contains(e.sourceCol)
        })
      .flatMap { entries =>
        import graft.operators.FileStats
        val stats = FileStats.read(java.nio.file.Paths.get(
          GraftVersionedTable.snapshotDir(root, options)))
        def valueOf(st: FileStats.FileStat, c: String,
                    dt: DataType): Option[Any] =
          st.cols.get(colMap.getOrElse(c, c)).flatMap(cs =>
            (cs.lo, cs.hi) match {
              case (Some(lo), Some(hi)) if lo == hi => (lo, dt) match {
                case (FileStats.L(v), LongType) => Some(v)
                case (FileStats.L(v), IntegerType) => Some(v.toInt)
                case (FileStats.L(v), ShortType) => Some(v.toShort)
                case (FileStats.L(v), ByteType) => Some(v.toByte)
                case (FileStats.S(v), StringType) =>
                  Some(UTF8String.fromString(v))
                case (FileStats.B(v), BooleanType) => Some(v)
                case _ => None // floats/temporal: no equality partitions
              }
              case _ => None
            })
        // identity: the partition value is the column's pinned value;
        // bucket: the stored bucket id the generated cluster column pins
        val keyCols = entries.map {
          case PartitionTransforms.IdentityPart(c) =>
            c -> required(required.fieldIndex(c)).dataType
          case e: PartitionTransforms.BucketPart =>
            e.clusterCol -> (IntegerType: DataType)
          // truncate: the key is the derived truncated value, typed
          // like the source key (floor keeps the type, prefix keeps
          // STRING); all-NULL-key files can't pin → Unknown, never wrong
          case e: PartitionTransforms.TruncatePart =>
            e.clusterCol -> required(required.fieldIndex(e.sourceCol)).dataType
          case e => e.clusterCol -> (IntegerType: DataType) // unreachable
        }
        val files = plannedGroups.filter(_.kept.nonEmpty)
          .map(g => java.nio.file.Paths.get(g.file).getFileName.toString)
        val keyed = files.map { n =>
          n -> stats.get(n).map(st =>
            keyCols.map { case (c, t) => valueOf(st, c, t) })
        }
        if (files.nonEmpty &&
            keyed.forall(_._2.exists(_.forall(_.isDefined))))
          Some(entries -> keyed.map { case (n, vs) =>
            n -> vs.get.map(_.get).toArray }.toMap)
        else None
      }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some((entries, byFile)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            PartitionTransforms.spjV2(entries)
              .map(_.asInstanceOf[org.apache.spark.sql.connector
                .expressions.Expression]),
            byFile.values.map(_.toSeq).toSet.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // LIMIT with no filters: row counts are exact, so schedule only
    // enough row groups to cover the limit — `LIMIT 10` over a 100 TB
    // snapshot launches one task, not one per row group (the scan
    // builder refuses the limit pushdown under deletion vectors,
    // where footer counts overcount)
    val groups = limit match {
      case Some(n) if allFilters.isEmpty =>
        GroupParquetIo.limitGroups(plannedGroups, n.toLong)
      case _ => plannedGroups
    }
    val dvs =
      if (uninitialized || changeFeed) Map.empty[String, String]
      else graft.operators.DeletionVectors.dvMap(java.nio.file.Paths.get(
          GraftVersionedTable.snapshotDir(root, options)))
        .map { case (n, p) => n -> p.toString }
    val parts0 = GroupParquetIo.toPartitions(groups, dvs)
    // row tracking: attach each split's file BASE row id (derived ids
    // are base + in-file position; materialized files read their own
    // column and ignore the base). Loud when the snapshot predates the
    // feature — a silent null id would poison lineage downstream.
    val parts =
      if (!required.fieldNames.contains(GraftVersionedTable.RowIdColumn) &&
          !required.fieldNames.contains(GraftVersionedTable.RowVerColumn))
        parts0
      else {
        val bases = graft.operators.RowIds.baseMap(java.nio.file.Paths.get(
          GraftVersionedTable.snapshotDir(root, options)))
        parts0.map {
          case p: GroupParquetPartition =>
            val n = java.nio.file.Paths.get(p.file).getFileName.toString
            val e = bases.getOrElse(n, throw new IllegalStateException(
              s"graft-versioned: row-tracking metadata requested but " +
                s"this snapshot has no row-id entry for '$n' — the " +
                "version predates row tracking (ids exist from the " +
                "enabling commit forward)"))
            p.copy(rowIdBase = e.base, rowVer = e.ver): InputPartition
          case p => p
        }
      }
    // SPJ: every split carries its partition key so Spark can group
    // and align the join sides (gated: spjKeys covers ALL planned
    // files or reports nothing)
    spjKeys match {
      case Some((_, byFile)) => parts.map {
        case p: GroupParquetPartition =>
          byFile.get(java.nio.file.Paths.get(p.file).getFileName.toString)
            .map(k => KeyedGroupParquetPartition(p.file, p.rangeStart,
              p.rangeEnd, p.dvFile, k, p.rowIdBase, p.rowVer): InputPartition)
            .getOrElse(p)
        case p => p
      }
      case None => parts
    }
  }

  /** Footer-derived estimates over the SURVIVING row groups: numRows
    * is their row count (an upper bound under residual filters);
    * sizeInBytes counts only the uncompressed bytes of the columns
    * this scan actually reads (projection ∪ filter columns). Without
    * this a DSv2 relation reports `defaultSizeInBytes` (effectively
    * infinite), so a 2 MB dimension snapshot would never qualify for
    * auto-broadcast and every join against the store would shuffle —
    * the single worst default at 1000-executor scale. */
  override def estimateStatistics(): Statistics = {
    val readCols: Set[String] =
      (required.fieldNames.map(n => colMap.getOrElse(n, n)) ++
        filterTypes.keys).toSet
    // deletion vectors: footer counts include the dead rows — subtract
    // the sidecar cardinalities (an O(1) header read each) so a
    // heavily-deleted dimension still qualifies for auto-broadcast
    val dvDead: Long =
      if (uninitialized || changeFeed) 0L
      else graft.operators.DeletionVectors.dvMap(java.nio.file.Paths.get(
          GraftVersionedTable.snapshotDir(root, options)))
        .values.map(graft.operators.DeletionVectors.cardinality).sum
    val groupRows = math.max(0L,
      plannedGroups.map(_.kept.map(_.getRowCount).sum).sum - dvDead)
    // PER-COLUMN DISTINCT COUNTS from the commit's NDV sketch sidecar
    // (ndvColumns tables): the kept files' register blobs union into a
    // pruning-aware estimate in PHYSICAL name space. Absence of the
    // sidecar = empty map = optimizer defaults, never a wrong row.
    val ndvPhys: Map[String, Long] =
      if (uninitialized || changeFeed) Map.empty
      else scala.util.Try {
        val vdir = java.nio.file.Paths.get(
          GraftVersionedTable.snapshotDir(root, options))
        val keptFiles = plannedGroups.filter(_.kept.nonEmpty)
          .map(g => java.nio.file.Paths.get(g.file).getFileName.toString).toSet
        if (keptFiles.isEmpty) Map.empty[String, Long]
        else graft.operators.NdvSidecar.mergedNdv(vdir, keptFiles)
      }.getOrElse(Map.empty)
    // NDV-implied selectivity of the pushed predicates: the Filter
    // above the scan keeps its child's size unless CBO has min/max
    // statistics, which this scan does not report — so the scan's own
    // row estimate must apply it, or a point-filtered 30k-row
    // dimension still looks like 30k rows to the join planner.
    // Equality keeps ~rows/ndv, IN keeps |set|/ndv; unknown shapes and
    // unsketched columns keep selectivity 1 (conservative).
    def selOf(f: Filter): Double = f match {
      case EqualTo(c, _) =>
        ndvPhys.get(c).map(n => 1.0 / math.max(1L, n)).getOrElse(1.0)
      case EqualNullSafe(c, _) =>
        ndvPhys.get(c).map(n => 1.0 / math.max(1L, n)).getOrElse(1.0)
      case In(c, vs) =>
        ndvPhys.get(c).map(n =>
          math.min(vs.distinct.length.toLong, math.max(1L, n)).toDouble /
            math.max(1L, n)).getOrElse(1.0)
      case And(l, r) => selOf(l) * selOf(r)
      case Or(l, r) => math.min(1.0, selOf(l) + selOf(r))
      case _ => 1.0
    }
    val sel = pushed.map(selOf).product
    val selRows =
      if (groupRows == 0L || sel >= 1.0) groupRows
      else math.max(1L, math.round(groupRows * sel))
    val rows = limit.map(n => math.min(n.toLong, selRows)).getOrElse(selRows)
    val colBytes = plannedGroups.map(_.kept.map(
      _.getColumns.asScala
        .filter(c => readCols.contains(c.getPath.toDotString))
        .map(_.getTotalUncompressedSize).sum).sum).sum
    // scale bytes with the selectivity-adjusted row estimate; a
    // fully-pruned projection (count(*)) still materializes a row per
    // record — floor at one byte per row so the estimate is never
    // zero while rows remain
    val selBytes =
      if (groupRows == 0L) colBytes
      else math.round(colBytes * (rows.toDouble / groupRows))
    val bytes = math.max(selBytes, rows)
    // distinct counts keyed back to LOGICAL names for the optimizer,
    // clamped at the live row estimate (DVs only shrink the true set)
    val ndvByLogical: Map[String, Long] =
      required.fieldNames.flatMap { n =>
        ndvPhys.get(colMap.getOrElse(n, n)).map(v => n -> math.min(v, rows))
      }.toMap
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
      override def columnStats(): util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        ndvByLogical.foreach { case (n, est) =>
          m.put(org.apache.spark.sql.connector.expressions.Expressions.column(n),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                util.OptionalLong.of(math.max(1L, est))
            })
        }
        m
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VersionedReaderFactory(required, colMap, limit.map(_.toLong).getOrElse(-1L))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // parse inside an option-named error: a malformed value ("abc")
    // must fail as loudly and as helpfully as a non-positive one
    def positiveLong(key: String): Option[Long] =
      Option(options.get(key)).map { v =>
        val n = scala.util.Try(v.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"graft-versioned: $key must be a positive integer, got '$v'"))
        require(n > 0, s"graft-versioned: $key must be positive, got $n")
        n
      }
    if (GraftVersionedTable.isChangeFeed(options)) {
      require(!(options.containsKey("startingVersion") &&
          options.containsKey("startingTimestamp")),
        "graft-versioned change feed: startingVersion and " +
          "startingTimestamp are mutually exclusive")
      // startingTimestamp (Delta's CDF shape): the first feed commit
      // stamped at-or-after it — same micros anchor as timestampAsOf,
      // checkpoint-accelerated; if every stored stamp is earlier, only
      // future commits stream (the table-stream contract)
      val fromTs = Option(options.get("startingTimestamp")).map { raw =>
        val ts = scala.util.Try(raw.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            "graft-versioned: startingTimestamp must be an integer " +
              s"commit stamp (micros), got '$raw'"))
        val feeds = Versioned.feedVersions(root)
        val cp = Versioned.readCheckpoint(root)
        feeds.find(v => Versioned.commitInfoFast(root, v, cp).ts
            .exists(_ >= ts))
          .getOrElse(feeds.lastOption.map(_ + 1).getOrElse(0L))
      }
      new GraftChangeFeedStream(root, required, pushed, filterTypes,
        // a version number or a TAG name — "stream the feed since the
        // train-v1 release" resolves through the same ref rules as
        // VERSION AS OF
        fromTs.orElse(Option(options.get("startingVersion"))
          .map(Versioned.resolveRef(root, _))).getOrElse(0L),
        positiveLong("maxVersionsPerTrigger"),
        positiveLong("maxBytesPerTrigger"))
    }
    else
      new GraftTableStream(root, required, pushed, filterTypes, colMap,
        checkpointLocation,
        Option(options.get("startingVersion")).map { v =>
          val n = Versioned.resolveRef(root, v) // number or tag name
          require(n >= 0,
            s"graft-versioned: startingVersion must be non-negative, got $n")
          n
        },
        options.getBoolean("skipChangeCommits", false),
        positiveLong("maxVersionsPerTrigger"),
        positiveLong("maxBytesPerTrigger"),
        positiveLong("maxFilesPerTrigger"),
        Option(options.get("startingTimestamp")).map { v =>
          scala.util.Try(v.trim.toLong).getOrElse(
            throw new IllegalArgumentException(
              "graft-versioned: startingTimestamp must be an integer " +
                s"commit stamp (micros), got '$v'"))
        })
  }
}

/** The stored change feed as a micro-batch stream: offsets are commit
  * versions; a batch covering (start, end] reads the feed files of those
  * versions. The feed is immutable, so replay from any checkpointed
  * offset re-reads the identical rows (deterministic recovery).
  *
  * ADMISSION CONTROL: the admission unit is one COMMIT (a stored feed
  * version). `.option("maxVersionsPerTrigger", n)` bounds every
  * micro-batch to n commits — a stream resuming after downtime drains
  * an N-commit backlog in ceil(N/n) checkpointed batches instead of one
  * giant all-or-nothing batch (the reference's own fetcher caps a drain
  * the same way, fetcher_dag_factory.py:77-79). The option surfaces as
  * `ReadLimit.maxRows(n)` through `getDefaultReadLimit` (rows = commits
  * here: the source's admission unit, the closest vocabulary Spark's
  * ReadLimit offers), and `latestOffset(start, limit)` honors whatever
  * limit arrives: maxRows caps the batch's commit count, maxBytes caps
  * it by the pending commits' stored-feed byte footprint (always
  * admitting at least one commit so the stream cannot stall), and
  * CompositeReadLimit is handled defensively (min over its members) for
  * forward-compatibility — Spark's AvailableNow path passes
  * getDefaultReadLimit through rather than composing one. Either way
  * the pinned drain target is still reached, one bounded batch at a
  * time. */
private[sources] class GraftChangeFeedStream(
    root: String, required: StructType, pushed: Array[Filter],
    filterTypes: Map[String, DataType], startingVersion: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxRows}

  private def currentLatest: Long =
    Versioned.feedVersions(root).lastOption.getOrElse(startingVersion - 1)

  // Trigger.AvailableNow pins the drain target at query start: later
  // commits stay out of THIS run, but the capped batches below still
  // walk all the way to the pinned target before the query stops
  private var availableTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(currentLatest)

  private def drainTarget: Long = availableTarget.getOrElse(currentLatest)

  override def initialOffset(): Offset = GraftVersionOffset(startingVersion - 1)

  override def getDefaultReadLimit: ReadLimit = {
    val limits =
      maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n)).toArray ++
        maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b))
    limits match {
      case Array() => ReadLimit.allAvailable()
      case Array(one) => one
      case both => ReadLimit.compositeLimit(both)
    }
  }

  // the engine drives a SupportsAdmissionControl source exclusively
  // through latestOffset(start, limit)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-versioned change feed: use latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = GraftVersionOffset(currentLatest)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    // ONE feed listing per trigger: the drain target (when not pinned
    // by AvailableNow) and the pending slice both derive from the same
    // directory snapshot — a second listing would double per-batch cost
    // on a remote filesystem and could disagree with the first
    // mid-commit
    val feeds = Versioned.feedVersions(root)
    val target = availableTarget.getOrElse(
      feeds.lastOption.getOrElse(startingVersion - 1))
    // feed versions can be sparse (every commit feeds on a
    // changeFeedKeys table, but a path-based root may mix), so caps
    // count/weigh stored feeds, not version arithmetic
    lazy val pending = feeds.filter(v => v > s && v <= target)
    def capByCount(n: Long): Long = {
      if (n <= 0) return s
      if (pending.size <= n) target
      else pending(math.min(n, Int.MaxValue.toLong).toInt - 1)
    }
    // maxBytes maps onto the stored feeds' byte sums: admit commits
    // until the budget is spent, but always at least one — a single
    // over-budget commit must go through alone, not stall the stream
    def capByBytes(budget: Long): Long = {
      if (pending.isEmpty) return target
      var spent = 0L
      var end = s
      var admitted = 0
      var full = false
      // the admitted set must be a PREFIX of the pending commits —
      // stop at the first commit that busts the budget (a later,
      // smaller commit must NOT slip past it)
      pending.foreach { v =>
        if (!full) {
          val bytes = Versioned.dataFiles(
            java.nio.file.Paths.get(Versioned.feedDir(root, v)))
            .map(java.nio.file.Files.size(_)).sum
          if (admitted == 0 || spent + bytes <= budget) {
            spent += bytes; end = v; admitted += 1
          } else full = true
        }
      }
      if (end == pending.last) target else end
    }
    def capBy(l: ReadLimit): Long = l match {
      case _: ReadAllAvailable => target
      case r: ReadMaxRows => capByCount(r.maxRows())
      case b: ReadMaxBytes => capByBytes(b.maxBytes())
      case c: CompositeReadLimit =>
        // defensive: Spark's own triggers don't compose limits today,
        // but a composite must mean "most restrictive member wins"
        val caps = c.getReadLimits.map(capBy)
        if (caps.isEmpty) target else caps.min
      case _ => target // maxFiles: no commit mapping for a feed source
    }
    GraftVersionOffset(capBy(limit))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val e = end.asInstanceOf[GraftVersionOffset].version
    Versioned.feedVersions(root).filter(v => v > s && v <= e)
      .flatMap { v =>
        GroupParquetIo.splitByRowGroup(
          Versioned.dataFiles(java.nio.file.Paths.get(Versioned.feedDir(root, v))),
          pushed, filterTypes)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VersionedReaderFactory(required)

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** The TABLE ITSELF as a micro-batch stream (the Delta `readStream`
  * shape, distinct from the stored change feed): the first batch is the
  * FULL SNAPSHOT at the version current when the stream first started,
  * and every later commit contributes exactly its NEW data files —
  * append commits stream row-identically to re-reading the table,
  * version dirs are immutable so checkpointed replay is deterministic.
  *
  * `.option("startingVersion", n)` skips the initial snapshot and
  * streams commits from version n on (each as its new files), matching
  * Delta's option of the same name.
  *
  * A NON-APPEND commit (copy-on-write rewrite, truncate, compaction,
  * a deletion-vector mutation — anything that removes a file or touches
  * a DV sidecar) cannot be represented as "new rows": the stream FAILS
  * LOUDLY at that version, naming `skipChangeCommits` — set it and
  * those commits contribute nothing, appends keep flowing (Delta's
  * contract). Detection is structural, one listing per side: a commit
  * is an append iff its file set is a superset of its parent's and the
  * DV sidecar signature (name → byte size) is unchanged — sidecars
  * only ever grow, so byte equality certifies carried-not-merged.
  *
  * The SNAPSHOT BASE (which version the first batch covers, and whether
  * it is a full snapshot or a startingVersion delta) is pinned in a
  * marker under the stream's checkpoint directory at first start:
  * a restart must re-plan the in-flight batch identically even though
  * the table has moved on, so "latest at start" cannot be recomputed.
  * The snapshot batch applies the base version's deletion vectors;
  * append batches never carry any (appends cannot create a DV).
  *
  * Shares the change-feed source's admission control verbatim:
  * `maxVersionsPerTrigger` caps a catch-up batch's commit count,
  * `maxBytesPerTrigger` / `maxFilesPerTrigger` cap it by the pending
  * commits' NEW-file byte and file counts (prefix-only, always ≥ 1
  * commit so one wide commit cannot stall the stream — Delta's default
  * admission axis is the file count), AvailableNow pins its drain
  * target. `startingTimestamp` (exclusive with `startingVersion`)
  * resolves the replay start against commit stamps — the first commit
  * stamped at-or-after it, the same micros anchor `timestampAsOf`
  * uses. Reference consumers poll stores the same incremental way
  * (load_data_from_search_db_to_es_db.py watermark loop) — this source
  * is that loop as one declarative stream. */
private[sources] class GraftTableStream(
    root: String, required: StructType, pushed: Array[Filter],
    filterTypes: Map[String, DataType], colMap: Map[String, String],
    checkpointLocation: String,
    startingVersion: Option[Long],
    skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    startingTimestamp: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import java.nio.file.Files

  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows}

  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "graft-versioned table stream: startingVersion and startingTimestamp " +
      "are mutually exclusive")

  // ---- snapshot base: pinned once per checkpoint, replay-stable
  private case class Base(version: Long, snapshot: Boolean)

  private val base: Base = {
    // checkpointLocation arrives as a Hadoop URI string (file:/...) —
    // resolve the path component; only the local scheme is supported
    // (the whole store is java.nio-addressed)
    val ckptUri = new HPath(checkpointLocation).toUri
    require(ckptUri.getScheme == null || ckptUri.getScheme == "file",
      s"graft-versioned table stream: unsupported checkpoint scheme in " +
        s"'$checkpointLocation' (local filesystem only)")
    val marker = java.nio.file.Paths.get(ckptUri.getPath, "graft_snapshot_base")
    if (Files.exists(marker)) {
      val parts = new String(Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
      Base(parts(0).toLong, parts(1).toBoolean)
    } else {
      val b = (startingVersion, startingTimestamp) match {
        case (Some(v), _) => Base(v, snapshot = false)
        case (None, Some(ts)) =>
          // Delta's startingTimestamp: no snapshot, replay from the
          // FIRST commit stamped at-or-after ts (stamps are the same
          // micros anchor timestampAsOf resolves against); if every
          // stamp is earlier, only future commits stream. Unstamped
          // (torn) versions are never selected as the start.
          val vs = Versioned.versions(root)
          val first = vs.find(v => Versioned.commitStamp(root, v).exists(_ >= ts))
          Base(first.getOrElse(vs.lastOption.map(_ + 1L).getOrElse(0L)),
            snapshot = false)
        case (None, None) => Versioned.latestVersion(root) match {
          case Some(latest) => Base(latest, snapshot = true)
          // empty table at start: no snapshot, stream appends from v=0
          case None => Base(0L, snapshot = false)
        }
      }
      Files.createDirectories(marker.getParent)
      Files.write(marker, s"${b.version} ${b.snapshot}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      b
    }
  }

  private def currentLatest: Long =
    Versioned.versions(root).lastOption.getOrElse(base.version - 1)

  private var availableTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(currentLatest)

  override def initialOffset(): Offset = GraftVersionOffset(base.version - 1)

  override def getDefaultReadLimit: ReadLimit = {
    val limits =
      maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n)).toArray ++
        maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b)) ++
        maxFilesPerTrigger.map(f =>
          ReadLimit.maxFiles(math.min(f, Int.MaxValue.toLong).toInt))
    limits match {
      case Array() => ReadLimit.allAvailable()
      case Array(one) => one
      case both => ReadLimit.compositeLimit(both)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-versioned table stream: use latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = GraftVersionOffset(currentLatest)

  private def names(v: Long): Set[String] = {
    val vdir = java.nio.file.Paths.get(root, s"v=$v")
    require(Files.isDirectory(vdir),
      s"graft-versioned table stream: version $v is gone (vacuumed by " +
        "retention?) — the stream cannot replay it; restart from a fresh " +
        "checkpoint to re-snapshot")
    Versioned.dataFiles(vdir).map(_.getFileName.toString).toSet
  }

  /** The data files a batch for version `v` reads: the full snapshot
    * for the pinned base, the parent-diff for everything after. */
  private def batchFiles(v: Long): Seq[java.nio.file.Path] = {
    val vdir = java.nio.file.Paths.get(root, s"v=$v")
    if (v == base.version && base.snapshot)
      Versioned.dataFiles(vdir)
    else if (v == 0L) Versioned.dataFiles(vdir) // no parent: all new
    else {
      val prev = names(v - 1)
      Versioned.dataFiles(vdir).filterNot(p =>
        prev.contains(p.getFileName.toString))
    }
  }

  /** name → sidecar byte size: appends hard-link sidecars (size
    * unchanged); any DV mutation merges positions in, which can only
    * GROW a sidecar — so signature equality certifies "no row of an
    * existing file changed". */
  private def dvSignature(v: Long): Map[String, Long] =
    graft.operators.DeletionVectors.dvMap(
      java.nio.file.Paths.get(root, s"v=$v"))
      .map { case (n, p) => n -> Files.size(p) }

  /** Is commit `v` a pure append over its parent? The pinned base batch
    * is a snapshot, not a diff — always admissible. */
  private def isAppend(v: Long): Boolean = {
    if (v == base.version && base.snapshot) return true
    if (v == 0L) return true
    names(v - 1).subsetOf(names(v)) && dvSignature(v) == dvSignature(v - 1)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    // ONE version listing per trigger (ADVICE round 11: a second
    // listing doubles remote-store cost and can disagree mid-commit)
    val versions = Versioned.versions(root)
    val target = availableTarget.getOrElse(
      versions.lastOption.getOrElse(base.version - 1))
    lazy val pending = versions.filter(v => v > s && v <= target)
    def capByCount(n: Long): Long = {
      if (n <= 0) return s
      if (pending.size <= n) target
      else pending(math.min(n, Int.MaxValue.toLong).toInt - 1)
    }
    def capByBytes(budget: Long): Long = {
      if (pending.isEmpty) return target
      var spent = 0L
      var end = s
      var admitted = 0
      var full = false
      pending.foreach { v =>
        if (!full) {
          val bytes = batchFiles(v).map(Files.size(_)).sum
          if (admitted == 0 || spent + bytes <= budget) {
            spent += bytes; end = v; admitted += 1
          } else full = true
        }
      }
      if (end == pending.last) target else end
    }
    // files budget (Delta's default admission axis): admit commits
    // until their NEW-file counts exceed the cap — prefix-only, always
    // at least one commit so a wide commit cannot stall the stream
    def capByFiles(budget: Int): Long = {
      if (pending.isEmpty) return target
      var spent = 0L
      var end = s
      var admitted = 0
      var full = false
      pending.foreach { v =>
        if (!full) {
          val nFiles = batchFiles(v).size
          if (admitted == 0 || spent + nFiles <= budget) {
            spent += nFiles; end = v; admitted += 1
          } else full = true
        }
      }
      if (end == pending.last) target else end
    }
    def capBy(l: ReadLimit): Long = l match {
      case _: ReadAllAvailable => target
      case r: ReadMaxRows => capByCount(r.maxRows())
      case b: ReadMaxBytes => capByBytes(b.maxBytes())
      case f: ReadMaxFiles => capByFiles(f.maxFiles())
      case c: CompositeReadLimit =>
        val caps = c.getReadLimits.map(capBy)
        if (caps.isEmpty) target else caps.min
      case _ => target
    }
    GraftVersionOffset(capBy(limit))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val e = end.asInstanceOf[GraftVersionOffset].version
    Versioned.versions(root).filter(v => v > s && v <= e)
      .flatMap { v =>
        if (!isAppend(v)) {
          if (skipChangeCommits) Array.empty[InputPartition]
          else throw new IllegalStateException(
            s"graft-versioned table stream: version $v of $root is not a " +
              "pure append (a file was rewritten, removed, or a deletion " +
              "vector changed) — streaming new rows past it would be wrong. " +
              "Set .option(\"skipChangeCommits\", \"true\") to skip such " +
              "commits, or stream the stored change feed " +
              "(.option(\"changeFeed\", \"true\")) for row-level diffs.")
        } else {
          val dvs =
            if (v == base.version && base.snapshot)
              graft.operators.DeletionVectors.dvMap(
                java.nio.file.Paths.get(root, s"v=$v"))
                .map { case (n, p) => n -> p.toString }
            else Map.empty[String, String] // appends cannot create a DV
          GroupParquetIo.splitByRowGroup(batchFiles(v), pushed, filterTypes, dvs)
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VersionedReaderFactory(required, colMap)

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] case class GraftVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** One parquet ROW GROUP = one input partition: `[rangeStart,
  * rangeEnd)` is the byte range whose midpoint selects exactly this
  * row group inside the file (parquet-mr's own split rule), so a 1 GB
  * file with 8 row groups fans out to 8 tasks — file count no longer
  * caps parallelism at scale. A negative range means "whole file"
  * (streaming-feed fallbacks and older call sites). `only`, when set,
  * inverts the deletion-vector walk: the split yields exactly the rows
  * at those sorted file positions, whatever their DV state (how a
  * commit's change images are read, [[CommitImages]]). */
private[sources] case class GroupParquetPartition(
    file: String, rangeStart: Long = -1L, rangeEnd: Long = -1L,
    dvFile: String = null, rowIdBase: Long = -1L, rowVer: Long = -1L,
    only: Array[Long] = null)
  extends InputPartition

/** A split that knows its partition-column values — the
  * storage-partitioned-join shape (only planned when the scan proved
  * every kept file pins one exact value per partition column). */
private[sources] case class KeyedGroupParquetPartition(
    file: String, rangeStart: Long, rangeEnd: Long, dvFile: String,
    keyVals: Array[Any], rowIdBase: Long = -1L, rowVer: Long = -1L)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyVals)
}

/** The reader factory of every `graft-versioned` scan: the snapshot
  * scan, the row-level scan, the table stream and the change-feed
  * stream. The parquet read settings are taken from the session here,
  * on the driver, so a scan decodes the same way however its job is
  * launched. */
private[sources] case class VersionedReaderFactory(
    required: StructType, colMap: Map[String, String] = Map.empty,
    limit: Long = -1L,
    readConf: Map[String, String] = VersionedPartitionReader.sessionReadConf())
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: GroupParquetPartition =>
        new VersionedPartitionReader(this, p.file, p.rangeStart, p.rangeEnd,
          p.dvFile, p.rowIdBase, p.rowVer, p.only)
      case p: KeyedGroupParquetPartition =>
        new VersionedPartitionReader(this, p.file, p.rangeStart, p.rangeEnd,
          p.dvFile, p.rowIdBase, p.rowVer)
    }
}

private[sources] object VersionedPartitionReader {

  /** The session settings Spark's own parquet scan puts into its
    * reader's Hadoop configuration. */
  def sessionReadConf(): Map[String, String] = {
    val c = SQLConf.get
    Map(
      SQLConf.SESSION_LOCAL_TIMEZONE.key -> c.sessionLocalTimeZone,
      SQLConf.CASE_SENSITIVE.key -> c.caseSensitiveAnalysis.toString,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key ->
        c.nestedSchemaPruningEnabled.toString,
      SQLConf.PARQUET_BINARY_AS_STRING.key -> c.isParquetBinaryAsString.toString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP.key ->
        c.isParquetINT96AsTimestamp.toString,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key ->
        c.parquetInferTimestampNTZEnabled.toString,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key ->
        c.legacyParquetNanosAsLong.toString,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key ->
        c.parquetReaderRespectUnknownTypeAnnotation.toString,
      SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE.key ->
        c.parquetVectorizedReaderBatchSize.toString)
  }

  // output ordinals graft synthesizes instead of reading a batch column
  private val FileK = -1
  private val PosK = -2
  private val RowIdK = -3
  private val RowVerK = -4

  /** VARIANT as the writer stores it (see
    * [[VersionedDataWriter.fileSchema]]): one BINARY holding
    * [4-byte BE metadata length][metadata][value]. */
  def decodeVariant(bytes: Array[Byte]): VariantVal = {
    val mEnd = 4 + java.nio.ByteBuffer.wrap(bytes).getInt
    new VariantVal(java.util.Arrays.copyOfRange(bytes, mEnd, bytes.length),
      java.util.Arrays.copyOfRange(bytes, 4, mEnd))
  }
}

/** Executor-side reader. Spark's `VectorizedParquetRecordReader`
  * decodes the split; the midpoint of `[rangeStart, rangeEnd)` selects
  * its row group (negative = whole file). On top of Spark's batches
  * this adds only graft's own layers: column mapping (the requested
  * columns are PHYSICAL), deletion-vector masking over the parquet
  * row index (file-absolute, so it is also `_pos` and the base of a
  * derived `_row_id`), the `_file` / `_row_commit_version` constants,
  * and VARIANT decoding. Given `only`, the same walk keeps the listed
  * positions instead of skipping them and stops after the last one.
  * Columns a file lacks read as null, and
  * INT32 / FLOAT files under a widened BIGINT / DOUBLE column widen in
  * Spark's decoder. Pushed filters are not applied here: they prune
  * files and row groups at planning, and Spark re-applies them above
  * the scan. */
private[sources] class VersionedPartitionReader(
    f: VersionedReaderFactory, file: String, rangeStart: Long, rangeEnd: Long,
    dvFile: String, rowIdBase: Long, rowVer: Long, only: Array[Long] = null)
  extends PartitionReader[InternalRow] {
  import VersionedPartitionReader._

  private val required = f.required
  private val conf = new Configuration(GroupParquetIo.hadoopDefaults)
  f.readConf.foreach { case (k, v) => conf.set(k, v) }
  private val inputFile = HadoopInputFile.fromPath(new HPath(file), conf)
  private val footer = ParquetFooterReader.readFooter(inputFile,
    if (rangeStart < 0) ParquetMetadataConverter.NO_FILTER
    else ParquetMetadataConverter.range(rangeStart, rangeEnd))
  private val fileSchema = footer.getFileMetaData.getSchema

  private val requested =
    scala.collection.mutable.ArrayBuffer.empty[StructField]
  private def ask(name: String, t: DataType): Int = {
    requested += StructField(name, t)
    requested.length - 1
  }

  // per output ordinal: the batch column it reads, or a synthesized
  // value — a metadata column is synthesized only when the file does
  // not store a column of that name; any other absent column is asked
  // for anyway and Spark reads it as null (the schema-evolution
  // contract)
  private val source: Array[Int] = required.fields.map { c =>
    val phys = f.colMap.getOrElse(c.name, c.name)
    if (fileSchema.containsField(phys)) ask(phys, storedType(c.dataType))
    else c.name match {
      case GraftVersionedTable.FileColumn => FileK
      case GraftVersionedTable.PosColumn => PosK
      case GraftVersionedTable.RowIdColumn => RowIdK
      case GraftVersionedTable.RowVerColumn => RowVerK
      case _ => ask(phys, storedType(c.dataType))
    }
  }
  private def storedType(t: DataType): DataType =
    if (t == VariantType) BinaryType else t
  private val isVariant = required.fields.map(_.dataType == VariantType)

  // a REWRITTEN file of a row-tracking table materializes ids (and
  // their commit versions) under physical columns; a null there, or a
  // file without them, falls back to base + position (a MERGE-inserted
  // row in a rewrite gets its fresh id from the base allocation)
  private val matRowId =
    if (source.contains(RowIdK))
      ask(graft.operators.RowIds.MaterializedCol, LongType)
    else -1
  private val matRowVer =
    if (source.contains(RowVerK))
      ask(graft.operators.RowIds.MaterializedVerCol, LongType)
    else -1
  private val rowIndex =
    if (dvFile != null || only != null || source.contains(PosK) ||
        source.contains(RowIdK))
      ask(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    else -1

  private val reader = {
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(requested.toSeq).json)
    // graft's own writer stamps no rebase marker and writes proleptic
    // Gregorian values, so an unmarked file reads as CORRECTED;
    // Spark-written files carry their own marker
    val meta = footer.getFileMetaData.getKeyValueMetaData
    val dates = DataSourceUtils.datetimeRebaseSpec(meta.get(_), "CORRECTED")
    val int96 = DataSourceUtils.int96RebaseSpec(meta.get(_), "CORRECTED")
    val r = new VectorizedParquetRecordReader(null, dates.mode.toString,
      dates.timeZone, int96.mode.toString, int96.timeZone, false,
      conf.getInt(SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE.key, 4096))
    try {
      r.initialize(
        new FileSplit(new HPath(file), math.max(rangeStart, 0L),
          if (rangeStart < 0) Long.MaxValue else rangeEnd - rangeStart,
          Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()),
        Some(inputFile), None, Some(footer))
      r.initBatch(new StructType(), InternalRow.empty)
    } catch { case e: Throwable => r.close(); throw e }
    r
  }
  private val batch = reader.resultBatch()
  private var batchRows = 0
  private var at = 0
  private var data: InternalRow = _
  private var emitted = 0L

  // the sorted positions the walk skips (a DV) or keeps (`only`)
  private val keep = only != null
  private val walk: Array[Long] =
    if (keep) only
    else if (dvFile != null)
      graft.operators.DeletionVectors.read(java.nio.file.Paths.get(dvFile))
    else null
  private var walkIdx = 0

  private def position: Long = batch.column(rowIndex).getLong(at)

  // both the rows and the positions arrive in ascending order, so one
  // pointer walks the sorted positions once; a row is emitted when its
  // position is listed exactly when the walk keeps positions
  private def live: Boolean = walk == null || {
    val p = position
    while (walkIdx < walk.length && walk(walkIdx) < p) walkIdx += 1
    val listed = walkIdx < walk.length && walk(walkIdx) == p
    if (listed) walkIdx += 1
    listed == keep
  }

  override def next(): Boolean = {
    // a pushed LIMIT needs at most `limit` rows from EACH partition —
    // the engine-side final LIMIT (partial pushdown) does the rest
    if (f.limit >= 0 && emitted >= f.limit) return false
    // a kept-positions walk is done once its last position was emitted
    if (keep && walkIdx >= walk.length) return false
    var found = false
    while (!found) {
      at += 1
      while (at >= batchRows) {
        if (!reader.nextBatch()) return false
        batchRows = batch.numRows()
        at = 0
      }
      found = live
    }
    data = batch.getRow(at)
    emitted += 1
    true
  }

  private val filePath = UTF8String.fromString(file)

  private def synthesizedLong(kind: Int): Long = kind match {
    case PosK => position
    case RowIdK =>
      if (!data.isNullAt(matRowId)) data.getLong(matRowId)
      else {
        require(rowIdBase >= 0,
          s"graft-versioned: `_row_id` requested but $file has no " +
            "row-id base — the snapshot predates row tracking " +
            "(enable assigns ids from the current version forward)")
        rowIdBase + position
      }
    case RowVerK =>
      if (!data.isNullAt(matRowVer)) data.getLong(matRowVer)
      else {
        require(rowVer >= 0,
          s"graft-versioned: `_row_commit_version` requested but " +
            s"$file has no adding-commit record — the snapshot " +
            "predates row tracking")
        rowVer
      }
  }

  /** The current row as a view over the batch row: valid until the
    * next `next()`, which is all Spark's scan needs (it projects every
    * row before advancing). */
  private object row extends InternalRow {
    override def numFields: Int = source.length
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    override def update(i: Int, value: Any): Unit =
      throw new UnsupportedOperationException
    override def copy(): InternalRow = new GenericInternalRow(
      Array.tabulate[Any](source.length)(i =>
        InternalRow.copyValue(get(i, required(i).dataType))))
    override def isNullAt(i: Int): Boolean =
      source(i) >= 0 && data.isNullAt(source(i))
    override def getBoolean(i: Int): Boolean = data.getBoolean(source(i))
    override def getByte(i: Int): Byte = data.getByte(source(i))
    override def getShort(i: Int): Short = data.getShort(source(i))
    override def getInt(i: Int): Int = data.getInt(source(i))
    override def getLong(i: Int): Long =
      if (source(i) >= 0) data.getLong(source(i)) else synthesizedLong(source(i))
    override def getFloat(i: Int): Float = data.getFloat(source(i))
    override def getDouble(i: Int): Double = data.getDouble(source(i))
    override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
      data.getDecimal(source(i), precision, scale)
    override def getUTF8String(i: Int): UTF8String =
      if (source(i) == FileK) filePath else data.getUTF8String(source(i))
    override def getBinary(i: Int): Array[Byte] = data.getBinary(source(i))
    override def getGeography(i: Int): GeographyVal = data.getGeography(source(i))
    override def getGeometry(i: Int): GeometryVal = data.getGeometry(source(i))
    override def getInterval(i: Int): CalendarInterval = data.getInterval(source(i))
    override def getVariant(i: Int): VariantVal = decodeVariant(getBinary(i))
    override def getStruct(i: Int, numFields: Int): InternalRow =
      data.getStruct(source(i), numFields)
    override def getArray(i: Int): ArrayData = data.getArray(source(i))
    override def getMap(i: Int): MapData = data.getMap(source(i))
    override def get(i: Int, t: DataType): AnyRef =
      if (isNullAt(i)) null
      else if (source(i) == FileK) filePath
      else if (source(i) < 0) Long.box(getLong(i))
      else if (isVariant(i)) getVariant(i)
      else data.get(source(i), t)
  }

  override def get(): InternalRow = row

  override def close(): Unit = reader.close()
}

/** Driver-side planning of `graft-versioned` scans: file pruning by
  * name (`_file` predicates) and by the stats and Bloom sidecars,
  * footer reads, and row-group pruning
  * with Spark [[Filter]]s compiled to parquet [[FilterPredicate]]s.
  * `translatable` (pushdown time) and `compile` (planning time) agree
  * by construction: anything accepted at pushdown has a typed
  * compilation. Pruning is the only use of the pushed set — Spark
  * re-applies every filter above the scan. */
private[graft] object GroupParquetIo {

  /** One data file's footer state: its schema, the row groups the
    * pushed predicate kept, and the pre-prune group count (for the
    * `RowGroups: kept/total` explain line). */
  case class FileGroups(file: String, schema: MessageType,
                        kept: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                        total: Int)

  /** FILE-level data skipping from the commit's stats sidecar
    * ([[graft.operators.FileStats]]): drop files whose manifest
    * min/max/null-count statistics refute the pushed predicate, before
    * any footer I/O. Filters are in PHYSICAL name space (the caller
    * translated at the scan boundary), matching the sidecar's keys. A
    * file without a stats line (pre-stats commit) is always kept. */
  def pruneFilesByStats(files: Seq[java.nio.file.Path],
                        stats: Map[String, graft.operators.FileStats.FileStat],
                        pushed: Array[Filter]): Seq[java.nio.file.Path] =
    if (pushed.isEmpty || stats.isEmpty) files
    else files.filter { p =>
      stats.get(p.getFileName.toString).forall(st =>
        pushed.forall(graft.operators.FileStats.mayMatch(st, _)))
    }

  /** FILE-level Bloom skipping ([[graft.operators.BloomSidecar]]):
    * refute `key = v` / `key IN (…)` atoms against the commit's
    * per-file filters. Runs after the stats prune, decodes the (small)
    * sidecar only when an equality-family atom is actually pushed, and
    * keeps the file on every absence — same conservatism contract as
    * the stats layer. */
  def pruneFilesByBloom(files: Seq[java.nio.file.Path],
                        vdir: java.nio.file.Path,
                        pushed: Array[Filter]): Seq[java.nio.file.Path] = {
    def hasEq(f: Filter): Boolean = f match {
      case And(l, r) => hasEq(l) || hasEq(r)
      case Or(l, r) => hasEq(l) || hasEq(r)
      case _: EqualTo | _: EqualNullSafe | _: In => true
      case _ => false
    }
    if (files.isEmpty || !pushed.exists(hasEq)) files
    else {
      val blooms = graft.operators.BloomSidecar.read(vdir)
      if (blooms.isEmpty) files
      else files.filter { p =>
        val bl = blooms.getOrElse(p.getFileName.toString,
          Map.empty[String, org.apache.spark.util.sketch.BloomFilter])
        pushed.forall(graft.operators.BloomSidecar.mayMatch(bl, _))
      }
    }
  }

  /** A predicate on the `_file` metadata column alone. */
  def onFile(f: Filter): Boolean =
    f.references.toSet == Set(GraftVersionedTable.FileColumn)

  /** Conservative `_file` predicate evaluation: None = not understood
    * (keep the file). */
  private def fileKeep(f: Filter, path: String): Option[Boolean] = f match {
    case EqualTo(GraftVersionedTable.FileColumn, v) => Some(v == path)
    case EqualNullSafe(GraftVersionedTable.FileColumn, v) => Some(v == path)
    case In(GraftVersionedTable.FileColumn, vs) => Some(vs.contains(path))
    case IsNotNull(GraftVersionedTable.FileColumn) => Some(true)
    case And(l, r) =>
      for { a <- fileKeep(l, path); b <- fileKeep(r, path) } yield a && b
    case Or(l, r) =>
      for { a <- fileKeep(l, path); b <- fileKeep(r, path) } yield a || b
    case _ => None
  }

  /** FILE-level skipping by name: drop the files a `_file` predicate
    * refutes (a bin-pack rewrite's `_file IN (…)`, the row-level
    * scan's runtime group filter), before any footer I/O. */
  def pruneFilesByName(files: Seq[java.nio.file.Path],
                       onFile: Array[Filter]): Seq[java.nio.file.Path] =
    if (onFile.isEmpty) files
    else files.filter(p => onFile.forall(fileKeep(_, p.toString).getOrElse(true)))

  /** Hadoop's default configuration, parsed once per JVM (each
    * `new Configuration()` re-parses the default XML resources);
    * read-only here, copied where a reader sets keys. */
  lazy val hadoopDefaults: Configuration = new Configuration()

  /** One driver-side footer read per file → schema + row groups. */
  def readFooters(files: Seq[java.nio.file.Path]): Seq[FileGroups] =
    files.sortBy(_.getFileName.toString).map { p =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(new HPath(p.toString), hadoopDefaults),
        ParquetMetadataConverter.NO_FILTER)
      val blocks = footer.getBlocks.asScala.toSeq
      FileGroups(p.toString, footer.getFileMetaData.getSchema,
        blocks, blocks.size)
    }

  /** Flatten a translatable predicate into its conjunctive atoms. */
  def atoms(f: Filter): Seq[Filter] = f match {
    case And(l, r) => atoms(l) ++ atoms(r)
    case x => Seq(x)
  }

  /** Rewrite a filter's attribute references through the column
    * mapping (logical → physical) — predicates arrive from Spark in
    * LOGICAL names, parquet footers and pages carry PHYSICAL ones. An
    * unmapped name maps to itself (identity for unmapped columns and
    * for `_file`/`_pos` metadata references). Supports exactly the
    * vocabulary [[translatable]]/[[toColumn]] accept; anything else
    * passes through unchanged (it is never compiled or pruned on). */
  def mapFilter(f: Filter, m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    def p(a: String): String = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => EqualTo(p(a), v)
      case EqualNullSafe(a, v) => EqualNullSafe(p(a), v)
      case GreaterThan(a, v) => GreaterThan(p(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(p(a), v)
      case LessThan(a, v) => LessThan(p(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(p(a), v)
      case IsNull(a) => IsNull(p(a))
      case IsNotNull(a) => IsNotNull(p(a))
      case In(a, vs) => In(p(a), vs)
      case StringStartsWith(a, v) => StringStartsWith(p(a), v)
      case StringEndsWith(a, v) => StringEndsWith(p(a), v)
      case StringContains(a, v) => StringContains(p(a), v)
      case And(l, r) => And(mapFilter(l, m), mapFilter(r, m))
      case Or(l, r) => Or(mapFilter(l, m), mapFilter(r, m))
      case Not(c) => Not(mapFilter(c, m))
      case other => other
    }
  }

  /** Truth value of a translatable atom when its column reads as null
    * — the value an added (schema-evolution) column has in every
    * pre-evolution file. Only IsNull survives a null. */
  def nullSatisfied(f: Filter): Boolean = f match {
    case IsNull(_) => true
    // composite atoms (the pushed single-column Or, and Ands inside
    // it) evaluate under all-null references by three-valued logic —
    // sound because translatable() guarantees one column per pushed
    // Or, so "references absent" means EVERY leaf sees null
    case Or(l, r) => nullSatisfied(l) || nullSatisfied(r)
    case And(l, r) => nullSatisfied(l) && nullSatisfied(r)
    case _ => false
  }

  /** The parquet primitive a Catalyst type is STORED as by this
    * writer — the vocabulary of the type-widening check. */
  private[sources] def storedPrimitive(t: DataType): Option[PrimitiveTypeName] =
    t match {
      case LongType | TimestampType | TimestampNTZType =>
        Some(PrimitiveTypeName.INT64)
      case IntegerType | DateType => Some(PrimitiveTypeName.INT32)
      case DoubleType => Some(PrimitiveTypeName.DOUBLE)
      case FloatType => Some(PrimitiveTypeName.FLOAT)
      case BooleanType => Some(PrimitiveTypeName.BOOLEAN)
      case StringType => Some(PrimitiveTypeName.BINARY)
      case _ => None
    }

  /** True when every column the atom references is stored in THIS
    * file at the primitive its declared type expects. On a
    * TYPE-WIDENED table a pre-widening file stores INT32/FLOAT under a
    * BIGINT/DOUBLE manifest column — parquet-mr rejects a long/double
    * predicate over such a column, so mismatched atoms must skip the
    * row-group stats filter for this file. */
  private[sources] def fileTypeMatched(a: Filter, schema: MessageType,
                                       types: Map[String, DataType]): Boolean =
    a.references.forall { r =>
      !schema.containsField(r) || {
        val field = schema.getType(schema.getFieldIndex(r))
        !field.isPrimitive ||
          types.get(r).flatMap(storedPrimitive).forall(
            _ == field.asPrimitiveType().getPrimitiveTypeName)
      }
    }

  /** Drop row groups whose column statistics cannot satisfy the
    * pushed predicate — parquet's own StatisticsFilter, applied at
    * the DRIVER so a pruned group never becomes a task. Evaluated
    * PER FILE: an atom on a column the file lacks (pre-evolution
    * file) reads as null — IsNull keeps the file (atom dropped),
    * anything else refutes it outright. A predicate the translation
    * cannot express simply skips pruning (Spark's Filter above the
    * scan still applies it). */
  def pruneByStats(footers: Seq[FileGroups], pushed: Array[Filter],
                   filterTypes: Map[String, DataType]): Seq[FileGroups] = {
    val as = pushed.flatMap(atoms)
    if (as.isEmpty) return footers
    footers.map { fg =>
      val (present, absent) =
        as.partition(_.references.forall(fg.schema.containsField))
      if (absent.exists(a => !nullSatisfied(a))) fg.copy(kept = Seq.empty)
      // atoms over columns this file stores NARROWER than declared
      // (pre-widening files) cannot drive the native row-group filter —
      // conservatively keep the groups; Spark's Filter still applies them
      else compile(present.filter(fileTypeMatched(_, fg.schema, filterTypes)),
          filterTypes) match {
        case None => fg
        case Some(pred) =>
          fg.copy(kept = org.apache.parquet.filter2.compat.RowGroupFilter
            .filterRowGroups(FilterCompat.get(pred), fg.kept.asJava, fg.schema)
            .asScala.toSeq)
      }
    }
  }

  /** Plan one input partition PER SURVIVING ROW GROUP: each partition
    * carries the byte range `[startingPos, startingPos +
    * compressedSize)` whose midpoint is inside exactly that group
    * (parquet-mr's own range→group rule, so the reader's ranged
    * footer read selects it and nothing else). Files are the
    * durability unit, row groups the parallelism unit — a compacted
    * 1 GB file still fans out to its ~8 groups instead of capping the
    * stage at file count. */
  def toPartitions(footers: Seq[FileGroups],
                   dvs: Map[String, String] = Map.empty): Array[InputPartition] =
    footers.flatMap { fg =>
      val dv = dvs.getOrElse(
        java.nio.file.Paths.get(fg.file).getFileName.toString, null)
      if (fg.total <= 1)
        fg.kept.map(_ => GroupParquetPartition(fg.file, dvFile = dv))
      else fg.kept.map { b =>
        GroupParquetPartition(fg.file, b.getStartingPos,
          b.getStartingPos + b.getCompressedSize, dv)
      }
    }.toArray

  /** Keep only enough leading row groups to cover `n` rows — the
    * LIMIT-pushdown planning cap (valid only when no filters apply,
    * where footer row counts are exact). */
  def limitGroups(footers: Seq[FileGroups], n: Long): Seq[FileGroups] = {
    var cum = 0L
    footers.map { fg =>
      val kept = Seq.newBuilder[org.apache.parquet.hadoop.metadata.BlockMetaData]
      fg.kept.foreach { b =>
        if (cum < n) { kept += b; cum += b.getRowCount }
      }
      fg.copy(kept = kept.result())
    }.filter(_.kept.nonEmpty)
  }

  /** Footer-split + stats-prune in one call (the streaming feed path,
    * where partitions are planned per micro-batch). */
  def splitByRowGroup(files: Seq[java.nio.file.Path],
                      pushed: Array[Filter] = Array.empty,
                      filterTypes: Map[String, DataType] = Map.empty,
                      dvs: Map[String, String] = Map.empty): Array[InputPartition] =
    toPartitions(pruneByStats(readFooters(files), pushed, filterTypes), dvs)

  /** Answer a pushed-down global aggregation from the commit's
    * `_graft_stats` sidecar ([[graft.operators.FileStats]]) — ONE
    * sequential read instead of one footer GET per file. Sound only
    * when every data file carries a stats line AND every needed
    * statistic is present and type-exact; anything less returns None
    * and the caller falls through to footers. A column key absent from
    * a file's stats means the file predates the column (schema
    * evolution): its rows read null, so it contributes `rows` to the
    * null count and nothing to MIN/MAX — which makes evolved tables
    * answerable here where the footer path must refuse (a footer
    * cannot distinguish "column absent" from "stats missing").
    * Timestamps refuse (the sidecar stores raw int64 whose unit the
    * reader can't re-derive); Date converts exactly (int32 days). */
  private def answerFromStatsManifest(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      fullSchema: StructType,
      colMap: Map[String, String],
      sdir: java.nio.file.Path,
      dvDead: Long): Option[(StructType, GenericInternalRow, String)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import graft.operators.FileStats
    import graft.operators.FileStats.{ColStat, FileStat}

    val stats = FileStats.read(sdir)
    if (stats.isEmpty) return None // pre-stats commit
    val files = Versioned.dataFiles(sdir).map(_.getFileName.toString)
    if (!files.forall(stats.contains)) return None // partial coverage
    val perFile: Seq[FileStat] = files.map(stats(_))
    val totalRows = perFile.map(_.rows).sum - dvDead

    def colName(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e.asInstanceOf[NamedReference].fieldNames()(0)
    def colType(e: org.apache.spark.sql.connector.expressions.Expression): DataType =
      fullSchema.fields.find(_.name == colName(e)).get.dataType
    def phys(c: String): String = colMap.getOrElse(c, c)

    def nullCount(col: String): Option[Long] = {
      val per = perFile.map { fs =>
        fs.cols.get(phys(col)) match {
          case Some(cs) => cs.nulls
          case None => Some(fs.rows) // pre-evolution file: all rows read null
        }
      }
      if (per.forall(_.isDefined)) Some(per.flatMap(x => x).sum) else None
    }

    // merged bound over files that can hold a non-null value; files
    // where the column is absent or provably all-null contribute
    // nothing; a file that MIGHT hold a value but has no bound refuses
    def bound(col: String, wantMin: Boolean): Option[Option[FileStats.V]] = {
      val per: Seq[Option[Option[FileStats.V]]] = perFile.map { fs =>
        fs.cols.get(phys(col)) match {
          case None => Some(None) // column absent: all null
          case Some(cs) =>
            val b = if (wantMin) cs.lo else cs.hi
            b match {
              case some @ Some(_) => Some(some)
              case None =>
                if (fs.rows == 0L || cs.nulls.contains(fs.rows)) Some(None)
                else None // values exist but no bound stored — refuse
            }
        }
      }
      if (per.exists(_.isEmpty)) return None
      val vs = per.flatMap(_.get)
      if (vs.isEmpty) Some(None) // every file all-null/absent
      else FileStats.merge(vs, wantMin).map(Some(_)) // hetero-typed → refuse
    }

    // sidecar value → Spark internal value, exact or refuse
    def internal(v: FileStats.V, t: DataType): Option[Any] = (v, t) match {
      case (FileStats.L(x), LongType) => Some(x)
      case (FileStats.L(x), IntegerType) => Some(x.toInt)
      case (FileStats.L(x), DateType) => Some(x.toInt) // int32 days
      case (FileStats.D(x), DoubleType) => Some(x)
      case (FileStats.D(x), FloatType) => Some(x.toFloat) // float→double→float is exact
      case _ => None // timestamps (unit), strings (truncation), cross-type
    }

    def minMax(e: org.apache.spark.sql.connector.expressions.Expression,
               wantMin: Boolean): Option[Any] =
      bound(colName(e), wantMin).flatMap {
        case None => Some(null) // no non-null values: SQL MIN/MAX = NULL
        case Some(v) => internal(v, colType(e))
      }

    val out = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count_star", LongType, totalRows: Any))
      case c: Count =>
        nullCount(colName(c.column)).map(n =>
          (s"count_${colName(c.column)}", LongType, (totalRows - n): Any))
      case m: Min =>
        minMax(m.column, wantMin = true).map(v =>
          (s"min_${colName(m.column)}", colType(m.column), v))
      case m: Max =>
        minMax(m.column, wantMin = false).map(v =>
          (s"max_${colName(m.column)}", colType(m.column), v))
      case _ => None
    }
    if (out.exists(_.isEmpty)) return None

    val fields = out.flatMap(x => x)
    val schema = StructType(fields.map { case (n, t, _) => StructField(n, t) })
    val row = new GenericInternalRow(fields.length)
    fields.zipWithIndex.foreach { case ((_, _, v), i) => row.update(i, v) }
    val desc = s"GraftAggregateScan stats-manifest-only, " +
      s"PushedAggregates: [${agg.aggregateExpressions.mkString(", ")}], " +
      s"files=${files.size}"
    Some((schema, row, desc))
  }

  /** Answer a pushed-down global aggregation from footer metadata
    * alone: row counts (COUNT(*)), null counts (COUNT(col)), column
    * min/max statistics (MIN/MAX). Returns the (schema, row, explain
    * description) of the one-row result, or None when any row group
    * lacks the needed statistic — in which case the caller refuses the
    * pushdown and Spark runs the aggregate over a normal scan. */
  def answerFromFooters(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      fullSchema: StructType,
      options: CaseInsensitiveStringMap): Option[(StructType, GenericInternalRow, String)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference

    val root = GraftVersionedTable.rootOf(options)
    val colMap = GraftVersionedTable.colMapOf(options)
    val uninitialized = Versioned.latestVersion(root).isEmpty &&
      !options.containsKey("versionAsOf") && !options.containsKey("timestampAsOf")
    // deletion vectors: COUNT(*) = footer rows − sidecar cardinalities,
    // exact (the caller only admits CountStar under DVs)
    val dvDead: Long =
      if (uninitialized) 0L
      else graft.operators.DeletionVectors.dvMap(java.nio.file.Paths.get(
          GraftVersionedTable.snapshotDir(root, options)))
        .values.map(graft.operators.DeletionVectors.cardinality).sum
    // FIRST try the commit's stats sidecar: one small read answers the
    // whole aggregation where the footer path costs one GET per file —
    // `SELECT count(*)` over a 100k-file snapshot goes from 100k round
    // trips to one. Falls back to footers on any gap (pre-stats
    // commit, missing statistic, type the sidecar can't settle).
    if (!uninitialized) {
      val fromStats = answerFromStatsManifest(agg, fullSchema, colMap,
        java.nio.file.Paths.get(GraftVersionedTable.snapshotDir(root, options)),
        dvDead)
      if (fromStats.isDefined) return fromStats
    }
    val blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] =
      if (uninitialized) Seq.empty
      else readFooters(Versioned.dataFiles(java.nio.file.Paths.get(
        GraftVersionedTable.snapshotDir(root, options)))).flatMap(_.kept)
    val totalRows = blocks.map(_.getRowCount).sum - dvDead

    // chunk lookups translate logical → physical (footers speak birth
    // names); the answer's output field names stay logical
    def chunkOf(b: org.apache.parquet.hadoop.metadata.BlockMetaData, col: String) =
      b.getColumns.asScala.find(
        _.getPath.toDotString == colMap.getOrElse(col, col))

    // every row group must carry the statistic, or the answer is a lie
    def nullCount(col: String): Option[Long] = {
      val counts = blocks.map(chunkOf(_, col).flatMap { c =>
        val st = c.getStatistics
        if (st != null && st.isNumNullsSet) Some(st.getNumNulls) else None
      })
      if (counts.forall(_.isDefined)) Some(counts.flatMap(x => x).sum) else None
    }

    // merged min/max over non-empty groups; all-null/empty → Some(null)
    // (SQL MIN/MAX of no values); a group missing stats → None (refuse)
    def minMax(col: String, wantMin: Boolean,
               declared: DataType): Option[Any] = {
      // type widening: a pre-widening file's Integer/Float stat under
      // a BIGINT/DOUBLE column widens exactly before the merge
      def widen(v: Any): Any = (v, declared) match {
        case (x: java.lang.Integer, LongType) =>
          java.lang.Long.valueOf(x.longValue())
        case (x: java.lang.Float, DoubleType) =>
          java.lang.Double.valueOf(x.doubleValue())
        case _ => v
      }
      val perBlock: Seq[Option[Option[Any]]] = blocks
        .filter(_.getRowCount > 0)
        .map(chunkOf(_, col).flatMap { c =>
          val st = c.getStatistics
          if (st == null || st.isEmpty) None // stats missing — refuse
          else if (!st.hasNonNullValue) Some(None) // all-null group
          else Some(Some(widen(
            if (wantMin) st.genericGetMin else st.genericGetMax)))
        })
      if (perBlock.exists(_.isEmpty)) return None
      val values = perBlock.flatMap(_.get)
      if (values.isEmpty) Some(null)
      else Some(values.reduce { (a, b) =>
        val cmp = (a, b) match {
          case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
          case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
          case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
          case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
          case _ => return None // unexpected stat type — refuse
        }
        if ((cmp <= 0) == wantMin) a else b
      })
    }

    def colName(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e.asInstanceOf[NamedReference].fieldNames()(0)
    def colType(e: org.apache.spark.sql.connector.expressions.Expression): DataType =
      fullSchema.fields.find(_.name == colName(e)).get.dataType

    val out = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count_star", LongType, totalRows: Any))
      case c: Count =>
        nullCount(colName(c.column)).map(n =>
          (s"count_${colName(c.column)}", LongType, (totalRows - n): Any))
      case m: Min =>
        minMax(colName(m.column), wantMin = true, colType(m.column)).map(v =>
          (s"min_${colName(m.column)}", colType(m.column), v))
      case m: Max =>
        minMax(colName(m.column), wantMin = false, colType(m.column)).map(v =>
          (s"max_${colName(m.column)}", colType(m.column), v))
      case _ => None
    }
    if (out.exists(_.isEmpty)) return None

    val fields = out.flatMap(x => x)
    val schema = StructType(fields.map { case (n, t, _) => StructField(n, t) })
    val row = new GenericInternalRow(fields.length)
    fields.zipWithIndex.foreach { case ((_, _, v), i) => row.update(i, v) }
    val desc = s"GraftAggregateScan footers-only, " +
      s"PushedAggregates: [${agg.aggregateExpressions.mkString(", ")}], " +
      s"rowGroups=${blocks.size}"
    Some((schema, row, desc))
  }

  /** Spark [[Filter]] → Column predicate for the DELETE rewrite — a
    * BROADER vocabulary than the parquet pushdown set (Or/Not/In/
    * null-safe equality compose fine as Catalyst expressions even
    * though parquet-mr cannot evaluate them at the page level).
    * Returns None for anything unsupported, which makes
    * `canDeleteWhere` reject the whole DELETE loudly at analysis. */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for { x <- toColumn(l); y <- toColumn(r) } yield x && y
      case Or(l, r) => for { x <- toColumn(l); y <- toColumn(r) } yield x || y
      case Not(c) => toColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  def translatable(f: Filter, schema: StructType): Boolean = {
    def typeOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def atomic(name: String): Boolean = typeOf(name).exists {
      case LongType | IntegerType | DoubleType | FloatType |
           BooleanType | StringType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    def ordered(name: String): Boolean = typeOf(name).exists {
      case LongType | IntegerType | DoubleType | FloatType | StringType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    f match {
      case EqualTo(a, v) => v != null && atomic(a)
      case GreaterThan(a, _) => ordered(a)
      case GreaterThanOrEqual(a, _) => ordered(a)
      case LessThan(a, _) => ordered(a)
      case LessThanOrEqual(a, _) => ordered(a)
      case IsNull(a) => atomic(a)
      case IsNotNull(a) => atomic(a)
      // IN pushes for the ordered set + strings (parquet FilterApi.in
      // evaluates row-group stats AND dictionaries); a null in the
      // value list would change semantics — refuse it
      case In(a, vs) =>
        vs.nonEmpty && vs.forall(_ != null) &&
          (ordered(a) || typeOf(a).contains(StringType))
      case And(l, r) => translatable(l, schema) && translatable(r, schema)
      // Or pushes only when BOTH sides speak about the SAME single
      // column (the IVM delta-bounds shape: `k IS NULL OR (k >= lo AND
      // k <= hi)`). The restriction keeps the absent-column logic
      // sound: a translatable atom's references are either all present
      // in a file or all absent, never mixed — a mixed-column Or under
      // nulls would need partial re-evaluation to prune correctly, so
      // it stays residual (Spark applies it above the scan).
      case Or(l, r) =>
        translatable(l, schema) && translatable(r, schema) &&
          f.references.distinct.length == 1
      case _ => false
    }
  }

  def compile(filters: Array[Filter],
              types: Map[String, DataType]): Option[FilterPredicate] =
    filters.flatMap(one(_, types)).reduceOption(FilterApi.and)

  // date literals arrive as LocalDate or java.sql.Date (datetime
  // java8API setting) — parquet wants epoch days
  private[sources] def toDays(v: Any): java.lang.Integer = v match {
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"graft-versioned: cannot convert ${other.getClass.getName} to epoch days")
  }

  // timestamp literals arrive as Instant / java.sql.Timestamp (LTZ) or
  // LocalDateTime (NTZ) — parquet wants epoch micros
  private[sources] def toMicros(v: Any): java.lang.Long = v match {
    case i: java.time.Instant =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case ts: java.sql.Timestamp =>
      // floorDiv, not /: plain division truncates toward zero, so a
      // pre-1970 timestamp (negative millis) would round the wrong way
      // and the pushed predicate would silently drop matching rows
      Math.addExact(Math.multiplyExact(Math.floorDiv(ts.getTime, 1000L), 1000000L),
        ts.getNanos / 1000L)
    case ldt: java.time.LocalDateTime =>
      val i = ldt.toInstant(java.time.ZoneOffset.UTC)
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case n: Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"graft-versioned: cannot convert ${other.getClass.getName} to epoch micros")
  }

  // the typed-column handle comes from the COLUMN's Catalyst type (the
  // literal may arrive as a narrower boxed type than the column)
  private def one(f: Filter, t: Map[String, DataType]): Option[FilterPredicate] = {
    def cmp(a: String, v: Any,
            onLong: java.lang.Long => FilterPredicate,
            onInt: java.lang.Integer => FilterPredicate,
            onDouble: java.lang.Double => FilterPredicate,
            onFloat: java.lang.Float => FilterPredicate,
            onStr: Binary => FilterPredicate): Option[FilterPredicate] =
      t.get(a).flatMap {
        case LongType => Some(onLong(v.asInstanceOf[Number].longValue()))
        case IntegerType => Some(onInt(v.asInstanceOf[Number].intValue()))
        case DateType => Some(onInt(toDays(v)))
        case TimestampType | TimestampNTZType => Some(onLong(toMicros(v)))
        case DoubleType => Some(onDouble(v.asInstanceOf[Number].doubleValue()))
        case FloatType => Some(onFloat(v.asInstanceOf[Number].floatValue()))
        case StringType => Some(onStr(Binary.fromString(v.toString)))
        case _ => None
      }
    f match {
      case EqualTo(a, v: java.lang.Boolean) if t.get(a).contains(BooleanType) =>
        Some(FilterApi.eq(FilterApi.booleanColumn(a), v))
      case EqualTo(a, v) => cmp(a, v,
        FilterApi.eq(FilterApi.longColumn(a), _),
        FilterApi.eq(FilterApi.intColumn(a), _),
        FilterApi.eq(FilterApi.doubleColumn(a), _),
        FilterApi.eq(FilterApi.floatColumn(a), _),
        FilterApi.eq(FilterApi.binaryColumn(a), _))
      case GreaterThan(a, v) => cmp(a, v,
        FilterApi.gt(FilterApi.longColumn(a), _),
        FilterApi.gt(FilterApi.intColumn(a), _),
        FilterApi.gt(FilterApi.doubleColumn(a), _),
        FilterApi.gt(FilterApi.floatColumn(a), _),
        FilterApi.gt(FilterApi.binaryColumn(a), _))
      case GreaterThanOrEqual(a, v) => cmp(a, v,
        FilterApi.gtEq(FilterApi.longColumn(a), _),
        FilterApi.gtEq(FilterApi.intColumn(a), _),
        FilterApi.gtEq(FilterApi.doubleColumn(a), _),
        FilterApi.gtEq(FilterApi.floatColumn(a), _),
        FilterApi.gtEq(FilterApi.binaryColumn(a), _))
      case LessThan(a, v) => cmp(a, v,
        FilterApi.lt(FilterApi.longColumn(a), _),
        FilterApi.lt(FilterApi.intColumn(a), _),
        FilterApi.lt(FilterApi.doubleColumn(a), _),
        FilterApi.lt(FilterApi.floatColumn(a), _),
        FilterApi.lt(FilterApi.binaryColumn(a), _))
      case LessThanOrEqual(a, v) => cmp(a, v,
        FilterApi.ltEq(FilterApi.longColumn(a), _),
        FilterApi.ltEq(FilterApi.intColumn(a), _),
        FilterApi.ltEq(FilterApi.doubleColumn(a), _),
        FilterApi.ltEq(FilterApi.floatColumn(a), _),
        FilterApi.ltEq(FilterApi.binaryColumn(a), _))
      case IsNull(a) => isNullPred(a, t)
      case IsNotNull(a) => isNullPred(a, t).map(FilterApi.not)
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        t.get(a).flatMap {
          case LongType => Some(FilterApi.in(FilterApi.longColumn(a),
            vs.map(v => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())).toSet.asJava))
          case TimestampType | TimestampNTZType =>
            Some(FilterApi.in(FilterApi.longColumn(a), vs.map(toMicros).toSet.asJava))
          case IntegerType => Some(FilterApi.in(FilterApi.intColumn(a),
            vs.map(v => java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue())).toSet.asJava))
          case DateType =>
            Some(FilterApi.in(FilterApi.intColumn(a), vs.map(toDays).toSet.asJava))
          case DoubleType => Some(FilterApi.in(FilterApi.doubleColumn(a),
            vs.map(v => java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())).toSet.asJava))
          case FloatType => Some(FilterApi.in(FilterApi.floatColumn(a),
            vs.map(v => java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue())).toSet.asJava))
          case StringType => Some(FilterApi.in(FilterApi.binaryColumn(a),
            vs.map(v => Binary.fromString(v.toString)).toSet.asJava))
          case _ => None
        }
      case And(l, r) => for { x <- one(l, t); y <- one(r, t) }
        yield FilterApi.and(x, y)
      case Or(l, r) => for { x <- one(l, t); y <- one(r, t) }
        yield FilterApi.or(x, y)
      case _ => None
    }
  }

  // eq(typedColumn, null) is parquet's null test — the handle must
  // match the column's physical type or the schema validator throws
  private def isNullPred(a: String,
                         t: Map[String, DataType]): Option[FilterPredicate] =
    t.get(a).collect {
      case LongType | TimestampType | TimestampNTZType =>
        FilterApi.eq(FilterApi.longColumn(a), null.asInstanceOf[java.lang.Long])
      case IntegerType | DateType =>
        FilterApi.eq(FilterApi.intColumn(a), null.asInstanceOf[java.lang.Integer])
      case DoubleType => FilterApi.eq(FilterApi.doubleColumn(a), null.asInstanceOf[java.lang.Double])
      case FloatType => FilterApi.eq(FilterApi.floatColumn(a), null.asInstanceOf[java.lang.Float])
      case BooleanType => FilterApi.eq(FilterApi.booleanColumn(a), null.asInstanceOf[java.lang.Boolean])
      case StringType => FilterApi.eq(FilterApi.binaryColumn(a), null.asInstanceOf[Binary])
    }
}

// ============================================================ write path

/** WriteBuilder for the version store. Default mode APPENDS: the new
  * version is previous ∪ written rows (previous data files are
  * hard-linked into the commit — immutable files make the link safe and
  * O(files), never a data copy). `truncate()` (DataFrameWriter
  * mode("overwrite"), SQL INSERT OVERWRITE, streaming OutputMode
  * Complete) switches to snapshot-REPLACE: the new version is exactly
  * the written rows — the reference's copy-then-replace discipline
  * (price_prediction_data_pipeline.py:140-177) as a SQL verb. Either
  * way history is preserved; rollback/retention/time travel see one
  * more version. */
private[sources] class GraftVersionedWriteBuilder(
    root: String, tableSchema: StructType, info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap,
    rowLevelOp: Option[GraftRowLevelOperation] = None)
  extends WriteBuilder with SupportsTruncate {

  private var replace = false

  // write-time options win over the table's persisted layout contract
  private def opt(key: String): Option[String] =
    Option(info.options.get(key)).orElse(Option(tableOptions.get(key)))

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = {
    VersionedDataWriter.checkWritable(info.schema()) // fail loud on unsupported types now
    // an appendOnly table refuses snapshot replacement (INSERT
    // OVERWRITE / TRUNCATE / mode("overwrite")) — only bootstrap
    // overwrite of an EMPTY root passes (nothing is replaced). The
    // root's protocol flag is authoritative alongside the option, so
    // a path-based overwrite cannot bypass the promise.
    if (replace && (tableOptions.getBoolean("appendOnly", false) ||
        Versioned.writerFeatures(root).contains("append-only")) &&
        Versioned.latestVersion(root).nonEmpty)
      throw new UnsupportedOperationException(
        s"graft-versioned: overwrite/truncate on `$root` refused — the " +
          "table is appendOnly (INSERT/append commits only)")
    // appending to existing versions: the write must match the TABLE
    // schema — the MANIFEST for catalog-managed tables (which may have
    // evolved past the stored files; pre-evolution files null-fill on
    // read), the current version's footer schema for path-based writes
    // (there tableSchema is just the writer's own schema, so footer
    // inference is the only independent authority; replace may change
    // schema: each version dir carries its own footer schema and
    // pinned readers use their own).
    //
    // SCHEMA EVOLUTION opt-in (Delta's mergeSchema/autoMerge): on an
    // evolving table ACCEPT_ANY_SCHEMA suppressed the analyzer's
    // alignment, so the query schema arrives VERBATIM — the builder
    // aligns it here: (1) same name/type set, any order → accept
    // (files store columns by name, readers project by name);
    // (2) by-name superset — every existing column present with its
    // exact type plus NEW columns → evolve: metadata-only, q152's ADD
    // COLUMN null-fill semantics, new columns appended nullable to the
    // manifest at commit; (3) positional fallback for SQL INSERT
    // (whose SELECT-list names are expression strings): same arity and
    // positionally identical types → rename to the table's names in
    // query order (no evolution positionally — a new column needs a
    // name). Missing or retyped EXISTING columns stay loud: silent
    // drops and casts are how ingestion corrupts tables.
    val mergeOptIn = opt("mergeSchema").exists(_.trim.toBoolean) ||
      opt("autoMerge").exists(_.trim.toBoolean)
    var evolveTo: Option[StructType] = None
    var schema = info.schema()
    // the reference contract to align against: a catalog-managed table
    // has one for EVERY write (bootstrap and INSERT OVERWRITE included
    // — on an evolving table the analyzer skipped alignment, so a SQL
    // SELECT list's expression names must not leak into the files);
    // a path-based root only constrains non-replace appends, against
    // the current version's footers
    val alignAgainst: Option[(StructType, String)] =
      if (tableOptions.getBoolean("graftCatalogManaged", false) &&
          tableSchema.nonEmpty) Some((tableSchema, "the table contract"))
      else if (!replace) Versioned.latestVersion(root).map { v =>
        // v's schema as a path load of v sees it: widened across
        // mixed-width footers, without the row-tracking carriers, and
        // with VARIANT columns restored
        (GraftVersionedTable.resolveSchema(new CaseInsensitiveStringMap(
          java.util.Map.of("path", root, "versionAsOf", v.toString))), s"v=$v")
      }
      else None
    // transform-derived GENERATED cluster columns (bucket/temporal/
    // truncate) may be OMITTED by the writer: the fill pass appends
    // and computes them (the staged-CTAS contract — and streaming
    // toTable, which never pads analyzer defaults). Alignment ignores
    // them exactly when the write schema does not carry them.
    val derivedOmittable: Set[String] =
      opt("partitionedBy").map(PartitionTransforms.parse)
        .getOrElse(Seq.empty)
        .collect { case e if e.clusterCol != e.sourceCol &&
            !info.schema().fieldNames.contains(e.clusterCol) =>
          e.clusterCol }.toSet
    alignAgainst.foreach { case (existing0, what) =>
      {
        val existing =
          if (derivedOmittable.isEmpty) existing0
          else StructType(existing0.fields.filterNot(f =>
            derivedOmittable.contains(f.name)).toSeq)
        val got = schema.fields.map(f => (f.name, f.dataType)).toSeq
        val want = existing.fields.map(f => (f.name, f.dataType)).toSeq
        if (got != want && mergeOptIn) {
          val gotTypes = schema.fields.map(f => f.name -> f.dataType).toMap
          val newCols =
            schema.fields.filterNot(f => existing.fieldNames.contains(f.name))
          val existingCovered = existing.fields.forall(f =>
            gotTypes.get(f.name).contains(f.dataType))
          if (existingCovered && newCols.isEmpty) {
            () // case (1): reorder-only — row layout stays query order
          } else if (existingCovered && newCols.nonEmpty) {
            // case (2) — but a column-mapping table evolves through
            // ALTER TABLE ADD COLUMN only: a new name colliding with a
            // RETIRED physical name would rebind the dropped bytes
            require(!java.nio.file.Files.exists(
                java.nio.file.Paths.get(root, "_graft_colmap")),
              s"graft-versioned: mergeSchema on `$root` refused — the " +
                "table carries a column mapping, so new columns need " +
                "ALTER TABLE … ADD COLUMN (it assigns collision-free " +
                "physical names); mergeSchema could rebind a dropped " +
                "column's bytes")
            evolveTo = Some(StructType(existing.fields ++
              newCols.map(f => f.copy(nullable = true))))
          } else if (schema.length == existing.length &&
              schema.fields.map(_.dataType).toSeq ==
                existing.fields.map(_.dataType).toSeq &&
              schema.fields.zipWithIndex.forall { case (g, i) =>
                !existing.fieldNames.contains(g.name) ||
                  schema.fieldNames.count(_ == g.name) > 1 ||
                  existing.fields(i).name == g.name }) {
            // case (3): positional rename — values stay in query order.
            // ONLY when no UNIQUELY-named source column bearing a REAL
            // table column's name would move: such a column sitting at
            // a different position means the writer named real table
            // columns and misordered/mistyped one — positionally
            // rebinding those values (n_chars→doc_id) would corrupt
            // data silently, so that shape falls through to the loud
            // mismatch instead. Expression-named SELECT-list columns
            // ("(id + 1)") and DUPLICATED source names (SELECT id, id —
            // by-name intent is impossible there) still bind
            // positionally, the SQL INSERT cases this exists for.
            schema = StructType(schema.fields.zip(existing.fields).map {
              case (g, w) => g.copy(name = w.name) })
          } else require(got == want,
            s"graft-versioned append schema mismatch under $root: " +
              s"writing ${schema.simpleString} onto $what " +
              s"${existing.simpleString} — mergeSchema evolves NEW " +
              "columns only; every existing column must be present " +
              "with its exact type (silent drops and casts are how " +
              "ingestion corrupts tables)")
        } else require(got == want,
          s"graft-versioned append schema mismatch under $root: " +
            s"writing ${schema.simpleString} onto $what ${existing.simpleString} — " +
            "append requires identical columns; use overwrite to change " +
            "schema, or opt into evolution for NEW columns with " +
            ".option(\"mergeSchema\", \"true\") / the autoMerge table " +
            "property")
      }
    }
    val stamp = opt("commitTs").map(_.toLong)
    // writer-side layout: range-cluster + sort on these columns before
    // the files are cut, so every committed file covers a narrow
    // min/max slice of the cluster key (footer-stats pruning for every
    // future reader). From `.option("clusterBy", ...)` on path writes
    // or the table's `clusterBy` TBLPROPERTY through the catalog.
    // PARTITIONED BY transforms (catalog tables): bucket/temporal
    // entries cluster on an expression OVER THE SOURCE column (the
    // derived cluster column is still null here — the writer fills it),
    // and the writer rolls files at partition-value boundaries so every
    // committed file pins exactly one partition tuple (the SPJ
    // exactness invariant, guaranteed rather than incidental)
    val partEntries: Seq[PartitionTransforms.Entry] =
      opt("partitionedBy").map(PartitionTransforms.parse).getOrElse(Seq.empty)
    partEntries.foreach { e =>
      require(schema.fieldNames.contains(e.sourceCol),
        s"graft-versioned: partition column '${e.sourceCol}' not in " +
          s"write schema ${schema.fieldNames.mkString("[", ", ", "]")}")
    }
    val clusterBy = opt("clusterBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    clusterBy.foreach { c =>
      // a transform-derived cluster column may be absent from a staged
      // CTAS write schema — the writer appends and computes it
      require(schema.fieldNames.contains(c) ||
          partEntries.exists(e => e.clusterCol == c && e.clusterCol != e.sourceCol),
        s"graft-versioned: clusterBy column '$c' not in write schema " +
          s"${schema.fieldNames.mkString("[", ", ", "]")}")
    }
    // file-count / file-size control: writePartitions fixes the number
    // of output partitions (= files); targetFileBytes feeds AQE's
    // advisory partition sizing so file sizes track the target
    val writeParts = opt("writePartitions").map(_.toInt)
    writeParts.foreach(n => require(n > 0,
      s"graft-versioned: writePartitions must be positive, got $n"))
    // Spark's V2 write protocol rejects a fixed partition count with an
    // unspecified distribution (PARTITION_NUM_WITH_UNSPECIFIED_
    // DISTRIBUTION) — surface that as an option-named error here, at
    // build time, instead of a protocol error mid-write
    require(writeParts.isEmpty || clusterBy.nonEmpty,
      "graft-versioned: writePartitions needs clusterBy — a fixed " +
        "partition count is only expressible alongside the declared " +
        "range distribution")
    val targetBytes = opt("targetFileBytes").map(_.toLong)
    // changeFeedKeys (TBLPROPERTY or write option): every commit also
    // derives + stores its change feed — Delta CDF through plain SQL
    val feedKeys = opt("changeFeedKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    feedKeys.foreach { k =>
      require(schema.fieldNames.contains(k),
        s"graft-versioned: changeFeedKeys column '$k' not in write schema " +
          s"${schema.fieldNames.mkString("[", ", ", "]")}")
    }
    // idempotent application transactions (Delta's txnAppId/txnVersion
    // contract): a retried batch whose (appId, version) the table has
    // already committed becomes a no-op instead of a double-append —
    // the foreachBatch / retried-job exactly-once primitive. One
    // writer per appId (like Delta): the check-then-commit pair is not
    // atomic across two simultaneous drivers of the SAME app.
    val txn: Option[(String, Long)] = {
      // session conf covers SQL verbs that take no write options
      // (MERGE/UPDATE/DELETE inside a foreachBatch fold) — the same
      // door commitMessage uses
      val app = opt("txnAppId")
        .orElse(VersionedWriteIo.sessionConf("graft.versioned.txnAppId"))
        .map(_.trim).filter(_.nonEmpty)
      val ver = opt("txnVersion")
        .orElse(VersionedWriteIo.sessionConf("graft.versioned.txnVersion"))
      require(app.isDefined == ver.isDefined,
        "graft-versioned: txnAppId and txnVersion come as a pair — " +
          s"got txnAppId=${app.getOrElse("<unset>")}, " +
          s"txnVersion=${ver.getOrElse("<unset>")}")
      app.map { a =>
        val raw = ver.get
        val n = scala.util.Try(raw.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"graft-versioned: txnVersion must be a long, got '$raw'"))
        (a, n)
      }
    }
    // commit MESSAGE (Delta's userMetadata): a free-form line stored
    // with the commit and surfaced by sys.history — write option wins,
    // session conf ('graft.versioned.commitMessage') covers SQL verbs
    // that take no options
    val message = VersionedWriteIo.messageOf(opt("commitMessage"))
    // GENERATED/IDENTITY columns: resolve the fill plan driver-side
    // (bind expressions to the write schema; the persisted manifest
    // high-water mark for identity) and hand it to the batch write —
    // each writer task fills rows locally. A STAGED CTAS/RTAS write
    // carries its own (new-contract) specs as an option: the live
    // manifest on disk still holds the OLD contract until
    // commitStagedChanges publishes the replacement, and it must keep
    // binding concurrent writes — not this staged one.
    val autoSpecs = opt("stagedAutoSpecs") match {
      case Some(s) => AutoColumns.parse(s)
      case None => AutoColumns.read(root)
    }
    // a staged CTAS into a transform-partitioned table writes only the
    // QUERY's columns — the derived cluster columns are appended (and
    // computed) writer-side, so the committed files still carry them
    val appendFields: Seq[StructField] = autoSpecs.collect {
      case g: AutoColumns.Generated if !schema.fieldNames.contains(g.name) =>
        partEntries.find(e => e.clusterCol == g.name &&
            e.clusterCol != e.sourceCol) match {
          case Some(e) => PartitionTransforms.derivedFields(Seq(e), schema).head
          case None => throw new IllegalArgumentException(
            s"graft-versioned: write schema lacks GENERATED column " +
              s"'${g.name}' of `$root` — generated tables take " +
              "Spark-aligned full-schema writes only")
        }
    }
    val autoFill =
      if (autoSpecs.isEmpty) None
      else Some(AutoColumns.resolveFill(SparkSession.active, root,
        autoSpecs, schema, rowLevel = rowLevelOp.isDefined, appendFields))
    new GraftVersionedWrite(root, schema, replace, stamp, info.queryId(),
      clusterBy, writeParts, targetBytes, rowLevelOp, feedKeys,
      GraftVersionedTable.colMapOf(tableOptions), txn, message, evolveTo,
      autoFill, partEntries, appendFields)
  }
}

private[sources] class GraftVersionedWrite(
    root: String, schema: StructType, replace: Boolean,
    commitTs: Option[Long], queryId: String, clusterBy: Seq[String],
    writeParts: Option[Int] = None, targetBytes: Option[Long] = None,
    rowLevelOp: Option[GraftRowLevelOperation] = None,
    feedKeys: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    txn: Option[(String, Long)] = None,
    message: Option[String] = None,
    evolveTo: Option[StructType] = None,
    autoFill: Option[AutoColumns.Fill] = None,
    partEntries: Seq[PartitionTransforms.Entry] = Seq.empty,
    appendFields: Seq[StructField] = Seq.empty)
  extends Write with RequiresDistributionAndOrdering {

  override def description(): String =
    s"GraftVersionedWrite ${if (replace) "replace" else "append"} `$root`" +
      (if (clusterBy.nonEmpty) s" clusterBy=${clusterBy.mkString(",")}" else "")

  // Spark plans the range exchange + sort for us (the DataFrame-side
  // Layout.applySpec contract expressed through the V2 write protocol);
  // unspecified + empty ordering is the documented no-op.
  //
  // Transform partitioning orders on expressions over the SOURCE
  // columns (the derived cluster columns are computed writer-side, so
  // they are null at exchange time): bucket entries sort by the
  // catalog's V2 `bucket(n, col)` function (Spark resolves it through
  // the table's FunctionCatalog — the Iceberg write-distribution
  // pattern) with the raw key as a secondary order so each file also
  // pins a narrow key slice; temporal entries sort by the source
  // timestamp itself — truncation is MONOTONE in it, so ordering by
  // the source IS ordering by the transform, refined (and the file
  // stats on the raw timestamp prune time-range predicates directly).
  private def orders: Array[SortOrder] =
    if (partEntries.forall(e => e.clusterCol == e.sourceCol))
      clusterBy.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    else partEntries.flatMap {
      case PartitionTransforms.IdentityPart(c) =>
        Seq(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      case PartitionTransforms.BucketPart(n, c) =>
        Seq(Expressions.sort(Expressions.bucket(n, c), SortDirection.ASCENDING),
          Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      case PartitionTransforms.TemporalPart(_, c) =>
        Seq(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      // truncation is monotone in the source — ordering by the raw key
      // IS ordering by the transform, refined (the temporal recipe)
      case PartitionTransforms.TruncatePart(_, c) =>
        Seq(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
    }.toArray

  override def requiredDistribution(): Distribution =
    if (clusterBy.isEmpty && partEntries.isEmpty) Distributions.unspecified()
    else Distributions.ordered(orders)

  override def requiredOrdering(): Array[SortOrder] = orders

  // 0 = "no requirement" / "session default" in the V2 write contract
  override def requiredNumPartitions(): Int = writeParts.getOrElse(0)
  override def advisoryPartitionSizeInBytes(): Long = targetBytes.getOrElse(0L)

  override def toBatch: BatchWrite =
    new GraftBatchWrite(root,
      StructType(schema.fields ++ appendFields), replace, commitTs, queryId,
      rowLevelOp, feedKeys, colMap, txn, message, evolveTo, autoFill,
      partEntries.map(_.clusterCol))

  override def toStreaming: StreamingWrite = {
    require(txn.isEmpty,
      "graft-versioned: txnAppId/txnVersion are batch options — streaming " +
        "writes are already idempotent per epoch (the epoch tag)")
    // GENERATED columns stream fine: the fill pass is a stateless
    // per-row projection (bucket ids, temporal/truncate bins), so the
    // canonical streaming sink — append into a time-partitioned table
    // — works end to end. IDENTITY columns still refuse: their
    // high-water mark is resolved once per batch WRITE BUILD, and a
    // long-lived stream would reuse it across epochs.
    require(!autoFill.exists(_.items.exists(
        _.isInstanceOf[AutoColumns.IdItem])),
      "graft-versioned: streaming writes into a table with IDENTITY " +
        "columns are unsupported — the identity high-water mark is " +
        "resolved per batch write; use foreachBatch")
    new GraftStreamingWrite(root,
      StructType(schema.fields ++ appendFields), replace, commitTs,
      queryId, colMap, feedKeys, message, partEntries.map(_.clusterCol),
      autoFill)
  }
}

/** Batch write: tasks stage parquet files under `root/_staging_<id>`
  * (underscore-prefixed — invisible to every reader), the driver commit
  * links in the previous version's files (append mode), then publishes
  * the whole directory as `v=<next>` with ONE atomic rename. A reader
  * can never observe a half-written version; abort deletes the staging
  * dir and the store is untouched. */
private[sources] class GraftBatchWrite(
    root: String, schema: StructType, replace: Boolean,
    commitTs: Option[Long], queryId: String,
    rowLevelOp: Option[GraftRowLevelOperation] = None,
    feedKeys: Seq[String] = Seq.empty,
    colMap: Map[String, String] = Map.empty,
    txn: Option[(String, Long)] = None,
    message: Option[String] = None,
    evolveTo: Option[StructType] = None,
    autoFill: Option[AutoColumns.Fill] = None,
    partClusterCols: Seq[String] = Seq.empty) extends BatchWrite {

  private val staged = java.nio.file.Paths.get(
    root, s"_staging_${queryId}_${java.util.UUID.randomUUID.toString.take(8)}")

  // files store PHYSICAL names, fixed at column birth — the rename of a
  // logical column never touches a byte on disk
  private val physSchema = GraftVersionedTable.physicalSchema(schema, colMap)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(staged)
    // PARTITIONED BY tables roll to a new file whenever the partition
    // tuple changes (rows arrive sorted by the required ordering, the
    // auto-fill wrapper computes derived cluster values BEFORE the
    // inner writer sees the row) — every committed file pins exactly
    // one partition tuple, the storage-partitioned-join invariant
    val inner = VersionedWriterFactory(physSchema, staged.toString,
      partClusterCols.map(c =>
        physSchema.fieldIndex(colMap.getOrElse(c, c))))
    autoFill.fold(inner: DataWriterFactory)(f =>
      AutoFillWriterFactory(inner, f, math.max(1, info.numPartitions())))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    VersionedWriteIo.keepOnly(staged, AutoFillCommitMessage.unwrap(messages))
    // idempotent transaction replay: a (txnAppId, txnVersion) the table
    // has already recorded (at or past this version) drops its staged
    // files and commits NOTHING — same discipline as a replayed
    // streaming epoch. The transaction and the message ride the commit
    // record, so they publish in the SAME claim as the data.
    txn match {
      case Some((app, ver)) if VersionedWriteIo.txnCommitted(root, app, ver) =>
        Versioned.deleteRecursively(staged)
        return
      case _ => ()
    }
    // SCHEMA EVOLUTION (mergeSchema/autoMerge opt-in, validated at
    // build): the evolved contract lands in the catalog's schema
    // manifest just ahead of the data commit — metadata-only, exactly
    // the file ALTER TABLE ADD COLUMN writes, so pre-evolution files
    // null-fill the new columns on every read. A crash between the two
    // writes leaves an ADD COLUMN without data — harmless and
    // re-runnable. Path-based roots (no manifest file) skip this: each
    // version dir carries its own footer schema there.
    evolveTo.foreach { evolved =>
      val manifest = java.nio.file.Paths.get(root, "_graft_schema.json")
      if (java.nio.file.Files.exists(manifest))
        java.nio.file.Files.write(manifest,
          evolved.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val committed = rowLevelOp.flatMap(_.scannedState) match {
      case Some((scannedVersion, scannedNames)) =>
        // copy-on-write by file: staged output replaces exactly the
        // scanned files; everything else hard-links over
        VersionedWriteIo.commitRowLevel(root, staged, physSchema,
          scannedVersion, scannedNames, VersionedWriteIo.stampValue(commitTs),
          txn, message)
      case _ =>
        VersionedWriteIo.commitStaged(root, staged, physSchema,
          appendPrev = !replace, stamp = VersionedWriteIo.stampValue(commitTs),
          txn = txn, message = message)
    }
    // persist the identity high-water mark implied by this commit's
    // assignments (monotone advance, atomic manifest swap): the next
    // writer resolves it O(1) from the manifest — no scan even under
    // deletion vectors, and deleting the max-id rows can never reissue
    // their ids
    autoFill.foreach(f => AutoColumns.advanceHwm(root,
      AutoFillCommitMessage.nextBases(f, messages)))
    // a changeFeedKeys table derives + stores this commit's feed (CDF):
    // INSERT/UPDATE/MERGE/DELETE all feed the streaming change source
    if (feedKeys.nonEmpty)
      Versioned.writeFeedFor(SparkSession.active, root, committed,
        schema, feedKeys, schema.fieldNames.filterNot(feedKeys.contains).toSeq,
        colMap)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Versioned.deleteRecursively(staged)
}

/** Streaming write: every micro-batch epoch commits one version —
  * append mode grows the snapshot (OutputMode.Append/Update), truncate
  * replaces it (OutputMode.Complete). Epoch replay after a restart is
  * IDEMPOTENT: the committed version's record carries the epoch tag
  * (queryId:epochId), written into the staging dir BEFORE the claim,
  * so the replay check and the commit are one filesystem event — a
  * replayed epoch finds its tag and drops its staged files instead of
  * double-appending. */
private[sources] class GraftStreamingWrite(
    root: String, schema: StructType, replace: Boolean,
    commitTs: Option[Long], queryId: String,
    colMap: Map[String, String] = Map.empty,
    feedKeys: Seq[String] = Seq.empty,
    message: Option[String] = None,
    partClusterCols: Seq[String] = Seq.empty,
    autoFill: Option[AutoColumns.Fill] = None) extends StreamingWrite {

  private val stagedBase = java.nio.file.Paths.get(root, s"_staging_stream_$queryId")

  private val physSchema = GraftVersionedTable.physicalSchema(schema, colMap)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    java.nio.file.Files.createDirectories(stagedBase)
    // PARTITIONED BY parity with the batch factory: streamed appends
    // roll to a new file whenever the partition tuple changes, so every
    // committed file pins exactly ONE partition value (min == max in
    // the stats sidecar) — without this, streamed files silently span
    // values and pruning + storage-partitioned joins degrade until the
    // next OPTIMIZE re-pins. Unsorted micro-batch input only costs
    // extra files (one per key run); the invariant holds regardless.
    val inner = VersionedWriterFactory(physSchema, stagedBase.toString,
      partClusterCols.map(c =>
        physSchema.fieldIndex(colMap.getOrElse(c, c))))
    // GENERATED fill (bucket/temporal/truncate cluster columns):
    // stateless per-row projection, computed before the inner writer
    // sees the row so boundary rolls see the derived value
    autoFill.fold(inner: StreamingDataWriterFactory)(f =>
      AutoFillStreamingWriterFactory(inner, f))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = stagedBase.resolve(s"epoch=$epochId")
    val tag = s"$queryId:$epochId"
    if (VersionedWriteIo.epochCommitted(root, tag)) {
      Versioned.deleteRecursively(epochDir) // replayed epoch — already in
      return
    }
    java.nio.file.Files.createDirectories(epochDir)
    VersionedWriteIo.keepOnly(epochDir, AutoFillCommitMessage.unwrap(messages))
    // a deterministic stamp ladder when the caller provided commitTs
    // (epoch i lands at commitTs+i); wall-clock micros otherwise
    val stamp = commitTs.map(_ + epochId)
      .getOrElse(VersionedWriteIo.stampValue(None))
    val committed = VersionedWriteIo.commitStaged(root, epochDir, physSchema,
      appendPrev = !replace, stamp = stamp, epochTag = Some(tag),
      message = message)
    // the every-commit-feeds contract covers streaming epochs too: a
    // changeFeedKeys table fed by a stream stores one diff per epoch
    // (replayed epochs return before reaching here, so no double feed)
    if (feedKeys.nonEmpty)
      Versioned.writeFeedFor(SparkSession.active, root, committed,
        schema, feedKeys, schema.fieldNames.filterNot(feedKeys.contains).toSeq,
        colMap)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Versioned.deleteRecursively(stagedBase.resolve(s"epoch=$epochId"))
}

private[sources] case class StagedFilesMessage(files: Seq[String])
  extends WriterCommitMessage

/** Commit machinery shared by batch and streaming writes. */
private[graft] object VersionedWriteIo {

  import java.nio.file.{Files, Path, Paths, StandardCopyOption}

  /** A non-empty session conf value — the option channel for SQL verbs
    * that take no write options (commitMessage, txnAppId/txnVersion). */
  def sessionConf(key: String): Option[String] =
    Option(SparkSession.active.conf.get(key, ""))
      .map(_.trim).filter(_.nonEmpty)

  /** The commit message of a version (Delta's userMetadata), if its
    * writer recorded one — surfaced by sys.history. */
  def commitMessage(root: String, version: Long): Option[String] =
    Versioned.commitRecord(root, version).message

  /** The message a write records: the `commitMessage` write option,
    * else the session conf — the channel for SQL verbs, which take no
    * write options. */
  def messageOf(option: Option[String]): Option[String] =
    option.map(_.trim).filter(_.nonEmpty)
      .orElse(sessionConf("graft.versioned.commitMessage"))

  def stampValue(commitTs: Option[Long]): Long =
    // every DSv2 commit is stamped (time travel always works on a
    // DSv2-written root); default stamp is wall-clock MICROS so SQL
    // `TIMESTAMP AS OF` (which resolves to micros) lands in stamp space
    commitTs.getOrElse(System.currentTimeMillis() * 1000L)

  /** Drop staged files not named in any commit message — the leftovers
    * of speculative or failed task attempts whose abort never ran. */
  def keepOnly(staged: Path, messages: Array[WriterCommitMessage]): Unit = {
    val keep = messages.collect {
      case StagedFilesMessage(fs) => fs
    }.flatten.toSet
    Versioned.dataFiles(staged)
      .filterNot(f => keep(f.getFileName.toString))
      .foreach(Files.delete(_))
  }

  /** Has a version committed with the streaming epoch tag `tag`? */
  def epochCommitted(root: String, tag: String): Boolean =
    Versioned.versions(root).exists(v =>
      Versioned.commitRecord(root, v).epoch.contains(tag))

  /** Has `appId` already committed at or past `version`? Rollback and
    * retention naturally forget dropped commits' transactions (the
    * record lives in the version dir), so a rolled-back batch replays —
    * exactly what a rollback asks for. */
  def txnCommitted(root: String, appId: String, version: Long): Boolean =
    Versioned.versions(root).exists(v =>
      Versioned.commitRecord(root, v).txn.exists {
        case (a, x) => a == appId && x >= version
      })

  /** Delete `_staging_*` leftovers older than `olderThanMs` — what a
    * crashed driver's un-aborted write leaves behind (a successful
    * commit renames its staging dir away; abort deletes it). Age-gated
    * so an in-flight writer's staging is never swept: a live commit
    * holds its staging dir for seconds, the default window is a day.
    * Returns the deleted directory names. */
  def vacuumStaging(root: String, olderThanMs: Long,
                    dryRun: Boolean = false): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    val stream = Files.list(p)
    val stale =
      try stream.iterator().asScala.filter { d =>
        d.getFileName.toString.startsWith("_staging") &&
          Files.getLastModifiedTime(d).toMillis < cutoff
      }.toList
      finally stream.close()
    if (!dryRun) stale.foreach(Versioned.deleteRecursively)
    stale.map(_.getFileName.toString).sorted
  }

  /** Root-level temp-file sweep: the sidecar writers (latest hint,
    * tags, protocol, checkpoint) publish via `_graft_*_….tmp` + atomic
    * rename — a crash between the two leaves the tmp behind, invisible
    * to every reader but billed storage. Age-gated like the staging
    * sweep; covers the root and the feed dirs (a feed dir whose
    * manifest was written in place by an older build may hold its
    * tmp). Returns the deleted names. */
  def vacuumRootTmp(root: String, olderThanMs: Long,
                    dryRun: Boolean = false): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def sweep(dir: Path, label: String): Seq[String] = {
      if (!Files.isDirectory(dir)) return Seq.empty
      val stream = Files.list(dir)
      val stale =
        try stream.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          n.startsWith("_graft_") && n.endsWith(".tmp") &&
            Files.getLastModifiedTime(f).toMillis < cutoff
        }.toList
        finally stream.close()
      if (!dryRun) stale.foreach(Files.deleteIfExists(_))
      stale.map(f => s"$label${f.getFileName}")
    }
    val feedDirs = Versioned.feedVersions(root)
      .map(v => Paths.get(Versioned.feedDir(root, v)))
    (sweep(Paths.get(root), "") ++
      feedDirs.flatMap(d => sweep(d, s"_changes/${d.getFileName}/"))).sorted
  }

  /** Orphan sweep INSIDE committed version dirs — the cleanup the file
    * manifest makes possible: a committed `v=N` only ever gains files
    * through its one atomic rename, so any `*.parquet` the manifest
    * does not name (a crashed task's stray, an operator mistake, a
    * planted alien), any `.dv` sidecar the manifest does not list, and
    * any stale sidecar temp file is garbage — already INVISIBLE to
    * every manifest-resolved reader, but still billed storage at
    * object-store scale. Age-gated like the staging sweep; versions
    * without a manifest (pre-manifest history) are never touched —
    * there the listing IS the truth and deletion would be data loss.
    * Returns `v=N/<name>` for each removed file. */
  def vacuumOrphans(root: String, olderThanMs: Long,
                    dryRun: Boolean = false): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def old(p: Path): Boolean = Files.getLastModifiedTime(p).toMillis < cutoff
    Versioned.versions(root).flatMap { v =>
      val vdir = Paths.get(root, s"v=$v")
      Versioned.manifestEntries(vdir) match {
        case None => Seq.empty
        case Some((data, dvs)) =>
          val dataSet = data.toSet
          val strayData = Versioned.listParquet(vdir)
            .filterNot(f => dataSet(f.getFileName.toString)).filter(old)
          val dvDirP = graft.operators.DeletionVectors.dvDir(vdir)
          val dvSet = dvs.toSet
          val strayDv =
            if (!Files.isDirectory(dvDirP)) Seq.empty[Path]
            else {
              val s = Files.list(dvDirP)
              try s.iterator().asScala.filter { f =>
                val n = f.getFileName.toString
                n.endsWith(graft.operators.DeletionVectors.Suffix) && !dvSet(n)
              }.filter(old).toList
              finally s.close()
            }
          val strayTmp = {
            val s = Files.list(vdir)
            try s.iterator().asScala.filter { f =>
              val n = f.getFileName.toString
              n.startsWith("_graft_bloom_") && n.endsWith(".tmp")
            }.filter(old).toList
            finally s.close()
          }
          (strayData ++ strayDv ++ strayTmp).map { f =>
            if (!dryRun) Files.deleteIfExists(f)
            s"v=$v/${vdir.relativize(f)}"
          }
      }
    }.sorted
  }

  private[sources] def uniqueEmptyName(): String =
    s"part-empty-${java.util.UUID.randomUUID.toString.take(8)}.parquet"

  /** Staging subdirectory holding per-task deletion-vector FRAGMENTS
    * of a delta commit: `_dvfrag/<dataFileName>/<task>.dv`. */
  private[sources] val FragDir = "_dvfrag"

  /** Drop the staged fragments no task's message names (`keep` holds
    * `<dataFileName>/<task>.dv`) — a speculative or failed attempt's. */
  private[sources] def keepFragments(staged: Path, keep: Set[String]): Unit = {
    val fragBase = staged.resolve(FragDir)
    if (Files.isDirectory(fragBase)) {
      val stream = Files.walk(fragBase)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toList
          .filter(p => p.toString.endsWith(".dv") &&
            !keep(fragBase.relativize(p).toString))
          .foreach(Files.delete(_))
      } finally stream.close()
    }
  }

  /** Publish a DELTA commit: the staged dir holds insert part files
    * plus per-task DV fragments; the new version hard-links EVERY data
    * file of the base version (nothing is replaced), adds the insert
    * files, and writes per-file sidecars merging the base's DVs with
    * the fragments. Same file-level conflict discipline as
    * [[commitRowLevel]] with the DV'd files as the touched set:
    * intervening DISJOINT row-level commits rebase (positions stay
    * valid — file names are immutable identities), overlap or an
    * intervening append/overwrite aborts loudly. */
  def commitDelta(root: String, staged: Path, scannedVersion: Long,
                  stamp: Long, txn: Option[(String, Long)] = None,
                  message: Option[String] = None): Long = {
    import graft.operators.DeletionVectors
    // merge the per-task fragments: data file name → new positions
    val fragBase = staged.resolve(FragDir)
    val newPos: Map[String, Array[Long]] =
      if (!Files.isDirectory(fragBase)) Map.empty
      else {
        val stream = Files.list(fragBase)
        val dirs = try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.filter(Files.isDirectory(_)).toList
        } finally stream.close()
        dirs.map { d =>
          val fs = Files.list(d)
          val frags = try {
            import scala.jdk.CollectionConverters._
            fs.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".dv")).toList
          } finally fs.close()
          d.getFileName.toString ->
            frags.flatMap(DeletionVectors.read(_)).toArray.distinct.sorted
        }.filter(_._2.nonEmpty).toMap
      }
    Versioned.deleteRecursively(fragBase)
    val touched = newPos.keySet
    val what = "a merge-on-read mutation"
    val record = Versioned.CommitRecord(Some(stamp), replaced = Some(touched),
      txn = txn, message = message)
    commit(root, staged, record,
        Some(concurrentCommit(root, scannedVersion, what, _))) { latest =>
      val base = rebaseOnto(root, latest, scannedVersion, touched, what,
        "touched")
      val baseDir = Paths.get(root, s"v=$base")
      val baseFiles = Versioned.dataFiles(baseDir)
      val missing = touched -- baseFiles.map(_.getFileName.toString).toSet
      if (missing.nonEmpty)
        throw concurrentCommit(root, scannedVersion, what,
          s"deltas target files no longer present: ${missing.mkString(", ")}")
      // sidecars: base DVs ∪ this commit's fragments, per file
      val baseDvs = DeletionVectors.dvMap(baseDir)
      val dvNames = baseFiles.flatMap { f =>
        val n = f.getFileName.toString
        val merged = (baseDvs.get(n).map(DeletionVectors.read), newPos.get(n)) match {
          case (Some(old), Some(nw)) => Some(DeletionVectors.merge(old, nw))
          case (Some(old), None) => Some(old)
          case (None, Some(nw)) => Some(nw.distinct.sorted)
          case _ => None
        }
        merged.map { ps =>
          DeletionVectors.write(DeletionVectors.dvPath(staged, n), ps)
          n + DeletionVectors.Suffix
        }
      }
      // every base file carries over untouched (nothing is replaced)
      Carry(baseFiles, dvNames, Some(baseDir))
    }
  }

  /** MERGE-ON-READ DELETE: commit a new version whose data files are
    * all HARD-LINKS of the current one, plus per-file deletion-vector
    * sidecars naming the predicate's row positions. Cost is
    * O(deleted rows + file count), independent of file SIZE — the
    * copy-on-write path rewrites every touched file end-to-end.
    *
    * ONE Spark job: the DV-aware, position-tracking scan (projecting
    * `_file`/`_pos`) runs the predicate, and each scan task writes the
    * positions it matched as one DV fragment per data file straight
    * into the staged `_dvfrag/<dataFile>/<task>.dv` — the layout
    * [[commitDelta]] merges with the base's sidecars — so no shuffle
    * gathers positions and the driver never holds them. Existing DVs
    * apply during the scan, so only LIVE rows can match and merged
    * sidecars never double-count. On a table feeding on `feedKeys` the
    * same tasks write the rows they match as the commit's 'removed'
    * feed rows ([[TaskFeed]]), published after the claim;
    * [[Versioned.writeFeedFor]] derives the feed instead when that
    * cannot be exact (a VARIANT column, a claim past the scanned
    * version + 1); a feed needs the table `schema`. Serializable commit: a concurrent commit
    * between scan and publish fails this statement loudly unless it is
    * a disjoint row-level commit; the committed version's record names
    * the TOUCHED files so later row-level commits can rebase over this
    * one when disjoint. Returns the committed version. */
  def deleteViaDv(spark: SparkSession, root: String,
                  pred: org.apache.spark.sql.Column,
                  colMapOpt: Option[String] = None,
                  schema: Option[StructType] = None,
                  feedKeys: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import graft.operators.DeletionVectors
    require(feedKeys.isEmpty || schema.isDefined,
      "graft-versioned: a DV DELETE that writes a change feed needs the table schema")
    val scanned = Versioned.latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no versions under $root"))
    // a table's schema types the scan, so nothing is inferred; a bare
    // path has none to give
    val snapReader = schema.filter(_.nonEmpty)
      .fold(spark.read.format("graft-versioned"))(
        spark.read.format("graft-versioned").schema(_))
      .option("versionAsOf", scanned.toString)
    // the discovery scan must surface LOGICAL column names — the
    // predicate was written against them
    val snap = colMapOpt.filter(_.nonEmpty)
      .fold(snapReader)(m => snapReader.option("colmap", m))
      .load(root)
    val colMap = GraftVersionedTable.colMapOf(colMapOpt)
    val staged = Files.createTempDirectory(Paths.get(root), "_staging_dvcommit_")
    val stagedStr = staged.toString
    val feed = if (feedKeys.isEmpty) None
      else schema.flatMap(TaskFeed.spec(root, _, feedKeys, colMap, scanned, pairs = false))
    val tasks: Array[(Seq[String], Option[TaskFeed.Part])] =
      try {
        // DELETE removes rows where the predicate is TRUE; null-evaluating
        // rows get no position and stay live (the P10 null-keep rule)
        val qe = snap.filter(coalesce(pred, lit(false))).select(
          (Seq(GraftVersionedTable.FileColumn, GraftVersionedTable.PosColumn) ++
            feed.toSeq.flatMap(_.cols.fieldNames)).map(col): _*).queryExecution
        org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
            Some("graft-versioned DV DELETE")) {
          qe.toRdd.mapPartitions { rows =>
            val ctx = org.apache.spark.TaskContext.get()
            val name = f"part-${ctx.partitionId}%05d-${ctx.taskAttemptId}-" +
              java.util.UUID.randomUUID.toString.take(8)
            val removed = feed.map(new TaskFeed.Writer(_, name + ".parquet"))
            val positions = scala.collection.mutable.HashMap
              .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
            var matchedRows = 0L
            try rows.foreach { r =>
              positions.getOrElseUpdate(r.getUTF8String(0).toString,
                scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
              removed.foreach(_.removed(r, 2))
              matchedRows += 1
            } catch { case e: Throwable => removed.foreach(_.abort()); throw e }
            val frags = positions.toSeq.map { case (path, ps) =>
              val rel = s"${Paths.get(path).getFileName}/$name.dv"
              DeletionVectors.write(Paths.get(stagedStr, FragDir, rel), ps.toArray.sorted)
              rel
            }
            Iterator(frags -> removed.map(w => TaskFeed.Part(w.commit(), matchedRows, 0L)))
          }.collect()
        }
      } catch { case e: Throwable =>
        Versioned.deleteRecursively(staged)
        feed.foreach(TaskFeed.drop)
        throw e
      }
    // one code path owns DV merging, manifests, records, and the
    // file-level conflict rebase (two concurrent DV deletes on disjoint
    // files both land; overlap aborts loudly)
    keepFragments(staged, tasks.flatMap(_._1).toSet)
    val committed =
      try commitDelta(root, staged, scanned, stampValue(None))
      catch { case e: Throwable => feed.foreach(TaskFeed.drop); throw e }
    if (feedKeys.nonEmpty)
      TaskFeed.finish(root, feed, tasks.toSeq.map(_._2), committed) {
        Versioned.writeFeedFor(spark, root, committed, schema.get, feedKeys,
          schema.get.fieldNames.filterNot(feedKeys.contains).toSeq, colMap)
      }
    committed
  }

  /** Publish a row-level operation's staged output as the next
    * version: staged files REPLACE the scanned files of the scanned
    * snapshot; every unscanned file hard-links over unchanged, SAME
    * name (file names are unique at creation and immutable for life,
    * so identity survives commits), and carried files keep their
    * deletion-vector sidecars while replaced files shed theirs (their
    * rewritten content already excludes the DV'd rows).
    *
    * CONCURRENCY is file-level, Delta-style: a concurrent commit that
    * landed between this operation's scan and its commit does NOT
    * automatically abort it. If EVERY intervening commit is itself a
    * row-level commit whose replaced file set is DISJOINT from this
    * scan's, the commit REBASES — it replays its replacement against
    * the new latest snapshot (the scanned files still exist there,
    * untouched by the disjoint commits, and every file those commits
    * added or rewrote carries over). Two UPDATEs on different
    * clustered key ranges both commit; the merged table equals the
    * sequential result. Any overlap — or any intervening append /
    * overwrite, whose rows this operation never saw — still fails
    * loudly: silently re-basing over those would resurrect
    * concurrently-deleted rows or drop concurrent appends. The
    * committed version's record names the replaced set — the evidence
    * a later row-level commit's rebase reads. */
  def commitRowLevel(root: String, staged: Path, schema: StructType,
                     scannedVersion: Long, scannedNames: Set[String],
                     stamp: Long, txn: Option[(String, Long)] = None,
                     message: Option[String] = None): Long = {
    GraftVersionedTable.recordVariantCols(root, schema)
    // the staged output (the replacement rows) is fixed; the base we
    // rebase onto may advance while we retry against racing committers
    val what = "a row-level operation"
    val record = Versioned.CommitRecord(Some(stamp),
      replaced = Some(scannedNames), txn = txn, message = message)
    commit(root, staged, record,
        Some(concurrentCommit(root, scannedVersion, what, _))) { latest =>
      val base = rebaseOnto(root, latest, scannedVersion, scannedNames, what,
        "replaced")
      val baseDir = Paths.get(root, s"v=$base")
      // carry-over against the CURRENT base: everything the base holds
      // except the files we are replacing
      val carryOver = Versioned.dataFiles(baseDir)
        .filterNot(f => scannedNames(f.getFileName.toString))
      val dvNames = graft.operators.DeletionVectors.carryFor(
        baseDir, staged, carryOver.map(_.getFileName.toString).toSet)
      // a fully-pruned no-op still commits a readable version; the
      // schema needs a carrier only when nothing else survived
      if (carryOver.isEmpty && Versioned.listParquet(staged).isEmpty)
        VersionedWriterFactory(schema, staged.toString)
          .emptyFile(uniqueEmptyName())
      Carry(carryOver, dvNames, Some(baseDir))
    }
  }

  /** The loud failure of a write that read v=`scannedVersion` and
    * cannot rebase over what committed since. */
  private[graft] def concurrentCommit(root: String, scannedVersion: Long,
                                      what: String, why: String) =
    new IllegalStateException(
      s"graft-versioned: concurrent commit under $root during $what " +
        s"(scanned v=$scannedVersion, latest is " +
        s"v=${Versioned.latestVersion(root).getOrElse(-1L)}; $why) — " +
        "retry the statement against current data")

  /** Rebase eligibility of a row-level or delta commit that scanned
    * `scannedVersion`: every commit in (scanned, latest] must be a
    * row-level commit whose replaced set is disjoint from `touched`.
    * Returns the base to commit onto; throws the conflict otherwise. */
  private def rebaseOnto(root: String, latest: Option[Long],
                         scannedVersion: Long, touched: Set[String],
                         what: String, verb: String): Long = {
    val base = latest.getOrElse(
      throw concurrentCommit(root, scannedVersion, what, "no versions left"))
    ((scannedVersion + 1) to base).foreach { v =>
      Versioned.commitRecord(root, v).replaced match {
        case None => throw concurrentCommit(root, scannedVersion, what,
          s"v=$v is not a row-level commit")
        case Some(replaced) =>
          val overlap = replaced.intersect(touched)
          if (overlap.nonEmpty)
            throw concurrentCommit(root, scannedVersion, what,
              s"v=$v also $verb ${overlap.mkString(", ")}")
      }
    }
    base
  }

  /** Publish a staged directory as the next version: append mode
    * carries the previous version's files (and their DV sidecars) in,
    * overwrite mode carries nothing. Concurrency is [[commit]]'s. */
  def commitStaged(root: String, staged: Path, schema: StructType,
                   appendPrev: Boolean, stamp: Long,
                   epochTag: Option[String] = None,
                   txn: Option[(String, Long)] = None,
                   message: Option[String] = None): Long = {
    // an all-empty-partitions write still commits a readable version:
    // one zero-row file carries the schema for every future reader
    if (Versioned.listParquet(staged).isEmpty)
      VersionedWriterFactory(schema, staged.toString)
        .emptyFile(uniqueEmptyName())
    GraftVersionedTable.recordVariantCols(root, schema)
    commit(root, staged, Versioned.CommitRecord(Some(stamp), epoch = epochTag,
        txn = txn, message = message)) { latest =>
      val prevDir = latest.map(p => Paths.get(root, s"v=$p"))
      // append keeps every previous file under its SAME name (names are
      // unique at creation and immutable across commits — the identity
      // conflict checks, DV sidecars and carry-over key on) and every
      // previous DV — dropping one would resurrect its deleted rows
      if (appendPrev)
        Carry(prevDir.toSeq.flatMap(Versioned.dataFiles),
          prevDir.toSeq.flatMap(
            graft.operators.DeletionVectors.carryAll(_, staged)), prevDir)
      else Carry(statsFrom = prevDir)
    }
  }

  /** What one commit attempt carries into the staged output from its
    * base version: data files to hard-link in under their own names,
    * the DV sidecar names already placed under the staged `_dv` dir,
    * and the version dir whose stats lines carry for linked files. */
  case class Carry(files: Seq[Path] = Nil, dvNames: Seq[String] = Nil,
                   statsFrom: Option[Path] = None)

  /** Hard-link `src` as `tgt` (creating `tgt`'s parent), copying when
    * the filesystem has no links or `src` is on another device. */
  def linkOrCopy(src: Path, tgt: Path): Unit = {
    Files.createDirectories(tgt.getParent)
    try Files.createLink(tgt, src)
    catch {
      case _: UnsupportedOperationException |
           _: java.nio.file.FileSystemException => Files.copy(src, tgt)
    }
  }

  /** THE commit routine of the versioned store — every write stages,
    * claims through [[CommitStore.publishVersion]], then publishes
    * (Delta's put-if-absent LogStore contract). `staged` holds the
    * write's own output. Each attempt drops the previous attempt's
    * carried links, hands the latest committed version (None on an
    * empty root) to `carry` — which returns what to carry from it, or
    * throws when the write cannot rebase onto it — links the files,
    * writes the manifest with `record` (its stamp clamped against the
    * base, [[Versioned.clampStamp]]) and claims `v=base+1`; a lost
    * claim retries against the new latest. The claim publishes
    * everything a correct read needs: after it the winner writes only
    * accelerators, whose absence is never wrong — the latest hint, the
    * every-[[Versioned.CheckpointInterval]] checkpoint, and the
    * bloom/ndv sidecars (lines carry from the winning attempt's
    * `statsFrom`). `conflict`, when given, is how the caller names a
    * conflict it cannot retry past — running out of attempts reports
    * through it. Any failure before the publish deletes the staging
    * dir. Returns the committed version. */
  def commit(root: String, staged: Path,
             record: Versioned.CommitRecord = Versioned.CommitRecord(),
             conflict: Option[String => Throwable] = None)(
      carry: Option[Long] => Carry): Long = {
    val dvDir = graft.operators.DeletionVectors.dvDir(staged)
    @scala.annotation.tailrec
    def attempt(n: Int, prev: Carry): (Long, Carry) = {
      if (n == 20)
        throw conflict.fold[Throwable](new IllegalStateException(
          s"graft-versioned: could not commit under $root after 20 " +
            "attempts — either extreme write contention or the root is " +
            "not writable"))(_("20 rebase attempts exhausted"))
      prev.files.foreach(f => Files.deleteIfExists(staged.resolve(f.getFileName.toString)))
      prev.dvNames.foreach(d => Files.deleteIfExists(dvDir.resolve(d)))
      val base = Versioned.latestVersion(root)
      val c = carry(base)
      c.files.foreach(f => linkOrCopy(f, staged.resolve(f.getFileName.toString)))
      Versioned.writeFilesManifest(staged,
        Versioned.listParquet(staged).map(_.getFileName.toString), c.dvNames,
        c.statsFrom, record.copy(stamp =
          record.stamp.map(Versioned.clampStamp(root, base, _))))
      val next = base.fold(0L)(_ + 1)
      if (CommitStore.active.publishVersion(Paths.get(root), staged, next)) (next, c)
      else attempt(n + 1, c)
    }
    val (next, won) =
      try attempt(0, Carry())
      catch { case e: Throwable => Versioned.deleteRecursively(staged); throw e }
    Versioned.writeLatestHint(root, next)
    // every interval-th stamped commit refreshes the commit-log
    // checkpoint (best-effort: it is an accelerator, never truth)
    if (record.stamp.nonEmpty && next > 0 && next % Versioned.CheckpointInterval == 0)
      try Versioned.writeCheckpoint(root, cover = next - 1)
      catch { case scala.util.control.NonFatal(_) => () }
    // no-ops unless configured: carried files reuse their lines from the
    // previous version and the carry's source, new files get one build scan
    graft.operators.BloomSidecar.ensure(root, next, won.statsFrom)
    graft.operators.NdvSidecar.ensure(root, next, won.statsFrom)
    next
  }
}

/** Executor-side writer: one parquet file per non-empty partition,
  * created lazily on the first row (no empty-file litter from empty
  * shuffle partitions), named by (partition, task attempt, uuid) —
  * speculative attempts never collide, and the uuid makes every file
  * name GLOBALLY unique for the life of the store: commits carry
  * unreplaced files forward under the SAME name, so name-keyed
  * identity (DV sidecars, file-level conflict checks) stays stable
  * across versions. */
private[graft] case class VersionedWriterFactory(
    schema: StructType, stagingDir: String,
    splitIdx: Seq[Int] = Seq.empty)
  extends DataWriterFactory with StreamingDataWriterFactory {

  private def unique: String = java.util.UUID.randomUUID.toString.take(8)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VersionedDataWriter(stagingDir,
      f"part-$partitionId%05d-$taskId-$unique.parquet", schema, splitIdx)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new VersionedDataWriter(s"$stagingDir/epoch=$epochId",
      f"part-$partitionId%05d-$taskId-$unique.parquet", schema, splitIdx)

  /** Zero-row file with the write schema (driver-side, commit path). */
  def emptyFile(name: String): Unit =
    new VersionedDataWriter(stagingDir, name, schema).forceCreateAndClose()
}

/** The store's column types and how its files encode them. Encoding is
  * Spark's own: [[ParquetWriteSupport]] writes the rows and
  * [[SparkToParquetSchemaConverter]] maps the types, both configured
  * by [[writeDefaults]] — never by the session, so a file's layout
  * does not depend on who wrote it. */
private[graft] object VersionedDataWriter {

  /** Refuses a schema the store cannot write — at write-BUILD or DDL
    * time (driver), before a single task launches. */
  def checkWritable(schema: StructType): Unit = {
    require(schema.nonEmpty, "graft-versioned: cannot write a zero-column schema")
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType |
             StringType | DateType | TimestampType | TimestampNTZType |
             VariantType =>
        case other => throw new UnsupportedOperationException(
          s"graft-versioned: unsupported column type ${other.simpleString} " +
            s"for '${f.name}' — the store's column set is " +
            "long/int/double/float/boolean/string/date/timestamp/variant")
      }
    }
  }

  /** The row schema the files record (footer inference reads it
    * back): every column nullable, no field metadata, and VARIANT as
    * ONE un-annotated BINARY of framed bytes ([[FramedVariantRow]]),
    * restored on path loads by the root's `_graft_variant_cols`. The
    * missing annotation is load-bearing: FileStats.toV refuses min/max
    * on it (null counts still collect), statOrdered refuses MIN/MAX agg
    * pushdown, and no source Filter ever references a variant column. */
  def fileSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => StructField(f.name, f.dataType match {
      case VariantType => BinaryType
      case t => t
    })))

  /** Hadoop defaults plus the keys [[ParquetWriteSupport]]`.init`
    * requires, fixed to the store's encoding: standard (non-legacy)
    * layout, INT64 TIMESTAMP(MICROS), no field ids, no VARIANT
    * annotation (VARIANT never reaches the converter as VARIANT). */
  lazy val writeDefaults: Configuration = {
    val c = new Configuration(GroupParquetIo.hadoopDefaults)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }

  /** The parquet schema a file written with `schema` carries. */
  def messageType(schema: StructType): MessageType =
    new SparkToParquetSchemaConverter(writeDefaults).convert(fileSchema(schema))

  private[sources] class Builder(path: HPath)
    extends ParquetWriter.Builder[InternalRow, Builder](path) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}

/** `row` with its VARIANT ordinals read as the framed BINARY the file
  * schema declares ([4-byte BE metadata length][metadata][value],
  * decoded by [[VersionedPartitionReader.decodeVariant]]); every other
  * ordinal reads through. */
private final class FramedVariantRow(types: Array[DataType])
  extends InternalRow with BaseGenericInternalRow {
  var row: InternalRow = _
  override protected def genericGet(i: Int): Any =
    if (types(i) != VariantType) row.get(i, types(i))
    else {
      val v = row.getVariant(i)
      val (m, d) = (v.getMetadata, v.getValue)
      java.nio.ByteBuffer.allocate(4 + m.length + d.length)
        .putInt(m.length).put(m).put(d).array()
    }
  override def isNullAt(i: Int): Boolean = row.isNullAt(i)
  override def numFields: Int = types.length
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
  override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
}

private[sources] class VersionedDataWriter(
    dir: String, fileName: String, schema: StructType,
    splitIdx: Seq[Int] = Seq.empty,
    codec: CompressionCodecName = CompressionCodecName.UNCOMPRESSED)
  extends DataWriter[InternalRow] {

  private val fileSchema = VersionedDataWriter.fileSchema(schema)
  private val framed =
    if (!schema.exists(_.dataType == VariantType)) None
    else Some(new FramedVariantRow(schema.fields.map(_.dataType)))
  private var writer: ParquetWriter[InternalRow] = null
  private var path: java.nio.file.Path = null

  // partition-boundary file roll: the names of files already closed by
  // this task, plus the partition tuple the OPEN file is pinned to.
  // Rows arrive sorted by the partition columns (the write's required
  // ordering), so a tuple change means this task is done with the
  // previous partition — close the file and start the next, and every
  // committed file pins exactly ONE partition tuple (min == max in the
  // stats sidecar: the invariant storage-partitioned joins prove
  // against). The key is COPIED out of the row (Spark reuses buffers).
  private val rolled = scala.collection.mutable.ArrayBuffer.empty[String]
  private var fileSeq = 0
  private var lastKey: InternalRow = null
  private lazy val keyOf = UnsafeProjection.create(splitIdx.map(i =>
    BoundReference(i, schema.fields(i).dataType, nullable = true)))

  private def currentName: String =
    if (splitIdx.isEmpty || fileSeq == 0) fileName
    else fileName.stripSuffix(".parquet") + f"-r$fileSeq%03d.parquet"

  private def open(): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    path = java.nio.file.Paths.get(dir, currentName)
    // row-group/page sizes: the parquet-mr builder defaults
    val conf = new Configuration(VersionedDataWriter.writeDefaults)
    ParquetWriteSupport.setSchema(fileSchema, conf)
    writer = new VersionedDataWriter.Builder(new HPath(path.toString))
      .withConf(conf).withCompressionCodec(codec).build()
  }

  private[sources] def forceCreateAndClose(): Unit = { open(); writer.close() }

  override def write(row: InternalRow): Unit = {
    if (splitIdx.nonEmpty) {
      val key = keyOf(row)
      if (lastKey == null || key != lastKey) {
        if (writer != null) {
          writer.close()
          rolled += currentName
          fileSeq += 1
          writer = null
        }
        lastKey = key.copy()
      }
    }
    if (writer == null) open()
    framed match {
      case Some(f) => f.row = row; writer.write(f)
      case None => writer.write(row)
    }
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); rolled += currentName }
    else if (path != null && rolled.isEmpty) rolled += currentName
    StagedFilesMessage(rolled.toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    (rolled.toSeq :+ currentName).distinct.foreach { n =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, n))
    }
  }

  override def close(): Unit = ()
}
