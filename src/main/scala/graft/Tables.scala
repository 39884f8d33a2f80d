package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DateType, DoubleType, FloatType,
  LongType, StructType, TimestampNTZType, TimestampType}

/** Canonical loaders for the driver-provided parquet tables
  * (see TESTDATA.md). All engine queries read through here so that
  * scan-level concerns (schema resolution, the type contracts, column
  * pruning) live in one place.
  *
  * Schema memo: inferring a parquet schema runs one Spark job over the
  * file footers, so [[table]] infers each path's schema once and reads
  * every later call with that schema supplied (no job). The memo holds
  * the `StructType` only, never a `DataFrame` (a shared frame would share
  * attribute ids between two reads of one table and break self-joins).
  * Its key is everything inference reads: the path; each leaf data
  * file's path, length and modification time (directories listed
  * recursively, skipping `_`/`.` names as Spark does, so rewriting a
  * table in place re-infers); and the session's parquet-inference
  * settings ([[inferenceConfs]]). One entry per path, replaced when the
  * key changes. The [[conform]] contracts run on every call.
  *
  * `ts` in events may be parquet TIMESTAMP(NANOS), which Spark cannot
  * represent; [[GraftSession]] sets `nanosAsLong` so it loads as
  * epoch-nanos long. Loaders never set session state themselves.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    conform(name, s.read.schema(schemaOf(s, path)).parquet(path))
  }

  /** Session settings parquet schema inference depends on. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class SchemaKey(
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  private def schemaOf(s: SparkSession, path: String): StructType = {
    val key = SchemaKey(leafFiles(s, path), inferenceConfs.map(s.conf.getOption))
    Option(schemas.get(path)) match {
      case Some((k, schema)) if k == key => schema
      case _ =>
        val schema = s.read.parquet(path).schema
        schemas.put(path, (key, schema))
        schema
    }
  }

  /** (path, length, mtime) of every data file under `path`, sorted;
    * empty when the path does not exist (the read then fails as usual). */
  private def leafFiles(s: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def hidden(f: FileStatus) = {
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def walk(f: FileStatus): Seq[FileStatus] =
      if (f.isDirectory) fs.listStatus(f.getPath).toSeq.filterNot(hidden).flatMap(walk)
      else Seq(f)
    if (!fs.exists(p)) Nil
    else walk(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
  }

  /** Columns the ENGINE imposes a canonical logical type on — every
    * place the query programs' types are fixed independently of what
    * the producer wrote. The round-8 events incident generalized: a
    * fixture regeneration that flips a physical encoding must either
    * canonicalize silently-and-exactly or fail loudly at the scan with
    * the column named — never throw a deep DATATYPE_MISMATCH from an
    * arbitrary query, and never mis-scale silently. (`ts` has its own
    * richer dispatch in [[canonicalEventTs]].) */
  private val ntzContract: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Columns every query program assumes exist — checked at the scan so
    * a regenerated fixture that drops/renames one fails HERE with the
    * table and column named, not as a deep AnalysisException inside an
    * arbitrary gate. */
  private val requiredCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value",
      "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** TS→NTZ preserving the UTC instant's wall clock, via pure datetime
    * arithmetic — independent of `spark.sql.session.timeZone`. */
  private def utcWallClock(c: String): Column =
    expr(s"timestampadd(MICROSECOND, unix_micros($c), " +
      "TIMESTAMP_NTZ '1970-01-01 00:00:00')")

  private def conform(name: String, df: DataFrame): DataFrame = {
    var out = df
    requiredCols.get(name).foreach { cols =>
      val missing = cols.filterNot(out.columns.contains)
      require(missing.isEmpty,
        s"$name.parquet is missing required column(s) " +
          s"${missing.mkString(", ")} (found: ${out.columns.mkString(", ")})")
    }
    // date-ish columns: queries are written against TIMESTAMP_NTZ
    ntzContract.getOrElse(name, Nil).foreach { c =>
      require(out.columns.contains(c),
        s"$name.parquet is missing required column '$c' (found: " +
          s"${out.columns.mkString(", ")})")
      out.schema(c).dataType match {
        case TimestampNTZType => ()
        case TimestampType => out = out.withColumn(c, utcWallClock(c))
        case DateType => out = out.withColumn(c, col(c).cast(TimestampNTZType))
        case other => throw new IllegalStateException(
          s"$name.$c has unsupported type $other; expected a timestamp/date")
      }
    }
    // embeddings: the vector tier's canonical element type is float32
    if (name == "embeddings") {
      require(out.columns.contains("embedding"),
        s"embeddings.parquet is missing required column 'embedding' " +
          s"(found: ${out.columns.mkString(", ")})")
      out.schema("embedding").dataType match {
        case ArrayType(FloatType, _) => ()
        case ArrayType(DoubleType, _) =>
          out = out.withColumn("embedding", col("embedding").cast("array<float>"))
        case other => throw new IllegalStateException(
          s"embeddings.embedding has unsupported type $other; expected " +
            "array<float> (or array<double>, canonicalized to float32)")
      }
    }
    out
  }

  /** Canonicalize an events frame so `ts` is ALWAYS epoch-nanos long, no
    * matter which physical parquet encoding the producer chose:
    *   - TIMESTAMP(NANOS)            → already a long via nanosAsLong
    *   - TIMESTAMP(MICROS/MILLIS)    → loaded as Timestamp/TimestampNTZ;
    *     rescaled back to epoch-nanos (exact: µs·1000 cannot overflow
    *     before year 2262)
    * NTZ wall-clock values are interpreted as UTC instants via pure
    * datetime arithmetic (`timestampdiff` against the NTZ epoch), so the
    * result does not depend on `spark.sql.session.timeZone`. This mirrors
    * the DuckDB oracle, whose `epoch_us(ts)` also treats NTZ as UTC.
    * Any other physical type fails LOUDLY — a scan layer that guesses
    * would corrupt every event-time result downstream.
    */
  private def canonicalEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as epoch-nanos
      case TimestampNTZType =>
        df.withColumn("ts", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * CAST(1000 AS BIGINT)"))
      case TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected epoch-nanos long " +
          "(parquet TIMESTAMP(NANOS) via nanosAsLong) or Timestamp/TimestampNTZ")
    }

  /** Streaming file source over events with the SAME canonical shape as
    * [[events]] (`ts` = epoch-nanos long). The source schema is derived
    * from a one-time batch footer read — never hard-coded — so a producer
    * switching TIMESTAMP(NANOS) → TIMESTAMP(MICROS) changes nothing
    * downstream. (A hard-coded LongType schema would silently read micros
    * values as longs and compress the event timeline 1000×: wrong answers
    * with no error — the worst failure mode a 100 TB streaming reader can
    * have.) Glob (not an exact file path) so the source resolves the
    * parent directory as basePath and lists the events file(s).
    */
  def eventsStream(s: SparkSession, dir: String,
                   options: Map[String, String] = Map.empty): DataFrame = {
    val footerSchema = table(s, dir, "events").schema
    canonicalEventTs(
      s.readStream.options(options).schema(footerSchema)
        .parquet(s"$dir/events.parq*"))
  }

  def region(s: SparkSession, dir: String): DataFrame = table(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = table(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = table(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = table(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = table(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** events with `ts` as epoch-nanos long — regardless of the file's
    * physical timestamp encoding, see [[canonicalEventTs]] — plus a
    * derived µs timestamp column `ts_utc` (truncation is exact for
    * bucketing/ordering).
    */
  def events(s: SparkSession, dir: String): DataFrame =
    canonicalEventTs(table(s, dir, "events"))
      .withColumn("ts_utc", expr("timestamp_micros(ts div 1000)"))

  /** Spread rows across the session's full parallelism before a
    * CPU-heavy per-row transform. The toy corpus is ONE small parquet
    * file with one row group — unsplittable, so a scan feeds exactly
    * one task and the whole transform serializes onto a single core
    * (q54 measured 1.2 s single-threaded vs ~0.1 s spread). At
    * production scale the input arrives in many partitions and this
    * round-robin shuffle of the raw rows is cheap insurance against
    * the same skew (one giant unsplittable file). Use ONLY ahead of
    * expensive per-row work — a plain scan-aggregate is better off
    * without the exchange. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}

/** One SparkSession factory so every entry point (tests, Bench, Verify)
  * gets identical tuning: AQE on, shuffle partitions sized for the local
  * core count (never the 200 default), UTC session time zone, parquet
  * TIMESTAMP(NANOS) read as epoch-nanos long. Verify passes its own
  * shuffle-partition count (one per core); everything else is shared.
  */
object GraftSession {
  def build(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
            shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt * 2)
      : SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // spark.sql.join.preferSortMergeJoin stays at its default (true):
      // the global SHJ experiment (round-17 verdict №9) was A/B-measured
      // in round 18 and REGRESSED every join-heavy gate (q50 1.50→1.90,
      // q56 1.41→1.65, t113 1.37→1.72, q105 0.49→0.69, q65 0.46→0.58 s
      // at sf0.1/32 cores, idle box, min-of-passes): per-partition hash
      // builds cost more than the sorts they replace at local shuffle
      // sizes, and the bucketed/SPJ layouts pin sort-order-preserving
      // SMJ plans that are genuinely optimal over pre-sorted buckets.
      // the versioned store's reader decodes INT64-micros timestamps
      // only (INT96 is refused by sys.convert too); Spark's parquet
      // writer still DEFAULTS to legacy INT96, so without this pin a
      // path-based writeNext of a TIMESTAMP column produces files the
      // store's own reader cannot read back
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // every streaming run clones the session, and with artifact
      // isolation each clone's UUID gets its own executor classloader —
      // the key of Spark's codegen cache — so a restarted AvailableNow
      // query recompiled every generated class of its plan. Graft adds
      // no session artifacts (jars, files) to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
    // Scan-split override for the scaling-slope probes (SCALING.md):
    // the dev fixtures are ONE parquet file, so at Spark's default
    // 128 MB split size the whole scan — and the explode/partial-agg
    // map work fused into it — runs as ONE task no matter how many
    // cores the session has, flattening every core-scaling ratio by
    // construction. A probe sets e.g. 2m over a multi-row-group scaled
    // corpus (tools/make_scaled.py) to let the scan stage parallelize
    // the way a production multi-file input does. UNSET in the
    // driver's runs → Spark's default 128m (production-right per the
    // optimization guide §6: big sequential scans want LARGER splits).
    val withSplit = sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .map(v => builder.config("spark.sql.files.maxPartitionBytes", v))
      .getOrElse(builder)
    val s = withSplit.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
