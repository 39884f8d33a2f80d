package graft.operators

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.sources._

import graft.sources.GroupParquetIo

/** Per-commit FILE STATISTICS sidecar (`_graft_stats`) — the manifest
  * half of data skipping. The commit records, for every data file it
  * names, the file's row count and per-column min/max/null-count
  * (footer-aggregated once at COMMIT time), so the scan planner can
  * drop whole files whose statistics refute the pushed predicate
  * WITHOUT opening a single parquet footer. Row-group pruning
  * ([[graft.sources]] GroupParquetIo.pruneByStats) still runs on the
  * survivors; this layer exists because at object-store scale the
  * planner's footer reads are one round trip PER FILE — a 100k-file
  * snapshot costs 100k GETs before the first task launches, where the
  * stats sidecar is one small sequential read (the Delta/Iceberg
  * data-skipping contract: stats live in the log/manifest, the store
  * is never probed for pruned files).
  *
  * Columns are keyed by PHYSICAL (birth) name — the same name space as
  * parquet footers — so pruning is column-mapping-stable: a RENAMEd
  * column keeps pruning because pushed filters are translated
  * logical→physical at the scan boundary before they reach this layer.
  *
  * Conservatism contract: every uncertainty keeps the file. Absent
  * sidecar, absent per-file line, absent column stats, unrepresentable
  * value types, NaN bounds — all fall back to "may match", and the
  * row-group prune plus Spark's Filter above the scan remain the
  * correctness backstop. A column key that IS present encodes "this
  * file's schema has the column"; an atom referencing a column with no
  * key applies null-read semantics (the value an added column reads in
  * a pre-evolution file): IsNull keeps the file, anything else
  * refutes it — mirroring the footer-path rule.
  */
object FileStats {

  private[graft] val StatsManifest = "_graft_stats"

  /** Typed statistic value — only types whose JSON round-trip and
    * ordering are exact are ever stored (long-family ints, finite
    * floating point, UTF-8 strings, booleans). Everything else is
    * omitted and never pruned on. */
  sealed trait V
  final case class L(v: Long) extends V
  final case class D(v: Double) extends V
  final case class S(v: String) extends V
  final case class B(v: Boolean) extends V

  /** min/max/null-count of one column in one file; any component may be
    * unknown. A ColStat with all-None still marks column PRESENCE. */
  final case class ColStat(lo: Option[V] = None, hi: Option[V] = None,
                           nulls: Option[Long] = None)

  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  // ------------------------------------------------------- collection

  /** Footer-read one data file and aggregate its row groups to file
    * granularity: min of mins, max of maxes, sum of null counts. A
    * row group missing a statistic poisons only that component. */
  def collect(file: Path): FileStat = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new HPath(file.toString), GroupParquetIo.hadoopDefaults),
      ParquetMetadataConverter.NO_FILTER)
    val blocks = footer.getBlocks.asScala.toSeq
    val schema = footer.getFileMetaData.getSchema
    val rows = blocks.map(_.getRowCount).sum
    val cols = schema.getFields.asScala.map { field =>
      val name = field.getName
      if (!field.isPrimitive) name -> ColStat() // presence marker only
      else {
        val prim = field.asPrimitiveType()
        val chunks = blocks.filter(_.getRowCount > 0).map(
          _.getColumns.asScala.find(_.getPath.toDotString == name))
        if (chunks.exists(_.isEmpty)) name -> ColStat()
        else {
          val stats = chunks.map(_.get.getStatistics)
          val nulls =
            if (stats.forall(st => st != null && st.isNumNullsSet))
              Some(stats.map(_.getNumNulls).sum)
            else None
          // every non-empty group must carry min/max or the bound is
          // unknowable; all-null groups contribute no value
          val bounds: Seq[Option[Option[(V, V)]]] = stats.map { st =>
            if (st == null || st.isEmpty) None
            else if (!st.hasNonNullValue) Some(None)
            else for {
              lo <- toV(prim, st.genericGetMin.asInstanceOf[AnyRef])
              hi <- toV(prim, st.genericGetMax.asInstanceOf[AnyRef])
            } yield Some((lo, hi))
          }
          val (lo, hi) =
            if (bounds.exists(_.isEmpty)) (None, None)
            else {
              val vs = bounds.flatMap(_.get)
              if (vs.isEmpty) (None, None)
              else (minBy(vs.map(_._1)), maxBy(vs.map(_._2)))
            }
          name -> ColStat(lo, hi, nulls)
        }
      }
    }.toMap
    FileStat(rows, cols)
  }

  /** Physical value → stored statistic, or None when the type's raw
    * ordering does not match its logical ordering (unsigned ints,
    * decimals) or the value cannot round-trip through JSON (NaN/Inf,
    * un-annotated binary — the store's framed VARIANT, see
    * [[graft.sources.VersionedDataWriter.fileSchema]]). Timestamp-annotated longs normalize to MICROS
    * (whatever unit the footer declares), date-annotated ints stay
    * epoch days — the probe coercion in [[numeric]] converts pushed
    * java.sql/java.time literals to the same scales, so time-range
    * predicates prune files exactly like numeric ones. */
  private def toV(prim: org.apache.parquet.schema.PrimitiveType,
                  value: AnyRef): Option[V] = {
    val ann = prim.getLogicalTypeAnnotation
    def intOrderingSafe: Boolean = ann match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
      case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => true
      case _ => false // decimal/uuid/interval: raw order is not value order
    }
    def toMicros(raw: Long): Long = ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            raw * 1000L // millis×1000 fits a long for any sane epoch
          case LogicalTypeAnnotation.TimeUnit.NANOS => Math.floorDiv(raw, 1000L)
          case _ => raw // MICROS
        }
      case _ => raw
    }
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 if intOrderingSafe =>
        Some(L(value.asInstanceOf[java.lang.Integer].longValue()))
      case PrimitiveTypeName.INT64 if intOrderingSafe =>
        Some(L(toMicros(value.asInstanceOf[java.lang.Long].longValue())))
      case PrimitiveTypeName.FLOAT =>
        val f = value.asInstanceOf[java.lang.Float].floatValue()
        if (f.isNaN || f.isInfinite) None else Some(D(f.toDouble))
      case PrimitiveTypeName.DOUBLE =>
        val d = value.asInstanceOf[java.lang.Double].doubleValue()
        if (d.isNaN || d.isInfinite) None else Some(D(d))
      case PrimitiveTypeName.BOOLEAN =>
        Some(B(value.asInstanceOf[java.lang.Boolean].booleanValue()))
      case PrimitiveTypeName.BINARY
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(S(value.asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8))
      case _ => None
    }
  }

  private def ord(a: V, b: V): Option[Int] = (a, b) match {
    case (L(x), L(y)) => Some(java.lang.Long.compare(x, y))
    case (D(x), D(y)) => Some(java.lang.Double.compare(x, y))
    case (S(x), S(y)) => Some(x.compareTo(y))
    case (B(x), B(y)) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Merge same-typed bounds across FILES (the agg-pushdown consumer):
    * min of mins / max of maxes; None for an empty or hetero-typed set
    * (the caller must treat None over a non-empty set as a refusal,
    * never as SQL NULL). */
  private[graft] def merge(vs: Seq[V], wantMin: Boolean): Option[V] =
    fold(vs, wantMin)

  private def minBy(vs: Seq[V]): Option[V] = fold(vs, wantMin = true)

  private def maxBy(vs: Seq[V]): Option[V] = fold(vs, wantMin = false)

  /** Reduce same-typed bounds to their extreme; a heterogeneous pair
    * (which a well-formed footer never produces) yields None —
    * unknown, never wrong. */
  private def fold(vs: Seq[V], wantMin: Boolean): Option[V] =
    if (vs.isEmpty) None
    else vs.tail.foldLeft(Option(vs.head)) {
      case (Some(a), b) => ord(a, b).map(c => if ((c <= 0) == wantMin) a else b)
      case (None, _) => None
    }

  // ---------------------------------------------------- serialization

  private val mapper = new ObjectMapper()

  private def toJson(name: String, fs: FileStat): String = {
    val o = mapper.createObjectNode()
    o.put("f", name)
    o.put("rows", fs.rows)
    val cols = o.putObject("cols")
    fs.cols.toSeq.sortBy(_._1).foreach { case (c, st) =>
      val co = cols.putObject(c)
      def putV(key: String, v: V): Unit = v match {
        case L(x) => co.put(key, x)
        case D(x) => co.put(key, x)
        case S(x) => co.put(key, x)
        case B(x) => co.put(key, x)
      }
      st.lo.foreach(putV("lo", _))
      st.hi.foreach(putV("hi", _))
      st.nulls.foreach(co.put("n", _))
    }
    mapper.writeValueAsString(o)
  }

  private def vOf(n: JsonNode): Option[V] =
    if (n == null) None
    else if (n.isIntegralNumber) Some(L(n.longValue()))
    else if (n.isFloatingPointNumber) Some(D(n.doubleValue()))
    else if (n.isTextual) Some(S(n.textValue()))
    else if (n.isBoolean) Some(B(n.booleanValue()))
    else None

  private def parseLine(line: String): Option[(String, FileStat)] =
    scala.util.Try {
      val o = mapper.readTree(line)
      val cols = Option(o.get("cols")).map { cs =>
        cs.properties().asScala.map { e =>
          val c = e.getValue
          e.getKey -> ColStat(vOf(c.get("lo")), vOf(c.get("hi")),
            Option(c.get("n")).filter(_.isIntegralNumber).map(_.longValue()))
        }.toMap
      }.getOrElse(Map.empty[String, ColStat])
      o.get("f").textValue() -> FileStat(o.get("rows").longValue(), cols)
    }.toOption

  /** Raw sidecar lines keyed by data-file name — the carry-forward
    * unit: a commit that hard-links a file forward copies its stats
    * LINE verbatim (zero footer reads for carried files, so commit
    * cost stays O(new files), not O(table files)). */
  private def rawLines(vdir: Path): Map[String, String] = {
    val f = vdir.resolve(StatsManifest)
    if (!Files.exists(f)) Map.empty
    else new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator
      .flatMap(l => parseLine(l).map(_._1 -> l)).toMap
  }

  /** Write the sidecar for `dataNames` under `vdir`: carried lines from
    * `carryFrom` where the (immutable, name-stable) file already has
    * one, fresh footer reads for the rest. */
  private[graft] def write(vdir: Path, dataNames: Seq[String],
                           carryFrom: Option[Path]): Unit = {
    val carried = carryFrom.map(rawLines).getOrElse(Map.empty)
    // footer reads are independent per file and latency-bound (on an
    // object store each is a round trip) — collect them in parallel;
    // the manifest line ORDER stays the sorted-name order regardless
    val sorted = dataNames.sorted
    val lines = sorted.toArray.par(n =>
      carried.getOrElse(n, toJson(n, collect(vdir.resolve(n)))))
    Files.write(vdir.resolve(StatsManifest),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Order-preserving parallel map over driver-side per-file metadata
    * work (footer reads, links): a bounded pool, fail-fast on the
    * first error. Scala 2.13 parallel collections are a separate
    * module, so this is plain java.util.concurrent. */
  private[operators] implicit final class ParMap[A](private val as: Array[A])
      extends AnyVal {
    def par[B](f: A => B): Seq[B] = {
      if (as.length <= 1) return as.toSeq.map(f)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(as.length,
          math.min(32, Runtime.getRuntime.availableProcessors())))
      try {
        val futs = as.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }))
        futs.toSeq.map(_.get())
      } catch {
        // unwrap so callers see the same exception type as sequential
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally pool.shutdownNow()
    }
  }

  /** Recompute the sidecar lines of exactly `names` in `vdir` (fresh
    * footer reads), carrying every other line verbatim — the hook for
    * maintenance that EDITS files in place (purge), where the old
    * min/max/rows would over-approximate forever. No sidecar = no-op
    * (absence stays "no pruning"). */
  private[graft] def refreshLines(vdir: Path, names: Set[String]): Unit = {
    val f = vdir.resolve(StatsManifest)
    if (!Files.exists(f) || names.isEmpty) return
    val existing = rawLines(vdir)
    val updated = existing.map { case (n, line) =>
      n -> (if (names(n) && Files.exists(vdir.resolve(n)))
        toJson(n, collect(vdir.resolve(n)))
      else line)
    }
    val tmp = Files.createTempFile(vdir, "_graft_stats_", ".tmp")
    Files.write(tmp, updated.toSeq.sortBy(_._1).map(_._2).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The version's per-file stats, empty for a pre-stats commit (every
    * absence is just "no pruning", never an error). */
  def read(vdir: Path): Map[String, FileStat] = {
    val f = vdir.resolve(StatsManifest)
    if (!Files.exists(f)) Map.empty
    else new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator
      .flatMap(parseLine).toMap
  }

  // --------------------------------------------------------- pruning

  /** Can `file`'s statistics admit a row matching `f`? Filters arrive
    * in PHYSICAL names (the scan translates at its boundary). And/Or
    * recurse; every unknown keeps the file. Deleted (DV'd) rows only
    * shrink the true row set, so stats remain valid over-approximations
    * under merge-on-read sidecars. */
  def mayMatch(st: FileStat, f: Filter): Boolean = f match {
    case And(l, r) => mayMatch(st, l) && mayMatch(st, r)
    case Or(l, r) => mayMatch(st, l) || mayMatch(st, r)
    case atom =>
      val refs = atom.references
      if (refs.isEmpty) true
      else if (!refs.forall(st.cols.contains)) atom match {
        // column absent from the file: reads as null (schema evolution)
        case IsNull(_) => true
        case _ => false
      }
      else evalAtom(st, atom)
  }

  /** Compare a stored bound against a pushed filter value. None =
    * incomparable (type mismatch, NaN) = cannot refute. Numeric
    * cross-type compares go through BigDecimal so a long bound never
    * loses precision against a double probe. */
  private def cmp(stat: V, filt: Any): Option[Int] = (stat, filt) match {
    case (S(a), x: String) => Some(a.compareTo(x))
    case (B(a), x: Boolean) => Some(java.lang.Boolean.compare(a, x))
    case (L(a), x) => numeric(x).map(BigDecimal(a).compare(_))
    case (D(a), x) => numeric(x).map(BigDecimal(a).compare(_))
    case _ => None
  }

  private def numeric(x: Any): Option[BigDecimal] = x match {
    case n: Byte => Some(BigDecimal(n.toInt))
    case n: Short => Some(BigDecimal(n.toInt))
    case n: Int => Some(BigDecimal(n))
    case n: Long => Some(BigDecimal(n))
    case n: Float =>
      if (n.isNaN || n.isInfinite) None else Some(BigDecimal(n.toDouble))
    case n: Double =>
      if (n.isNaN || n.isInfinite) None else Some(BigDecimal(n))
    // temporal probes: stats store MICROS (timestamps) / epoch DAYS
    // (dates) — convert the pushed literal to the same scale. Both
    // java.sql and java.time spellings arrive depending on
    // spark.sql.datetime.java8API.enabled.
    case t: java.sql.Timestamp =>
      Some(BigDecimal(Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L))
    case i: java.time.Instant =>
      Some(BigDecimal(Math.multiplyExact(i.getEpochSecond, 1000000L) +
        i.getNano / 1000L))
    case dt: java.time.LocalDateTime => // TIMESTAMP_NTZ probe
      Some(BigDecimal(Math.multiplyExact(
        dt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
        dt.getNano / 1000L))
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case _ => None // decimal/binary probes never compare
  }

  private def evalAtom(st: FileStat, f: Filter): Boolean = {
    def col(a: String): ColStat = st.cols(a)
    def allNull(a: String): Boolean =
      st.rows > 0 && col(a).nulls.contains(st.rows)
    // bound checks: keep on any unknown
    def loLE(a: String, v: Any): Boolean = // ∃ value ≤ v possible
      col(a).lo.forall(l => cmp(l, v).forall(_ <= 0))
    def loLT(a: String, v: Any): Boolean =
      col(a).lo.forall(l => cmp(l, v).forall(_ < 0))
    def hiGE(a: String, v: Any): Boolean =
      col(a).hi.forall(h => cmp(h, v).forall(_ >= 0))
    def hiGT(a: String, v: Any): Boolean =
      col(a).hi.forall(h => cmp(h, v).forall(_ > 0))
    def within(a: String, v: Any): Boolean = loLE(a, v) && hiGE(a, v)
    f match {
      case IsNull(a) => !col(a).nulls.contains(0L)
      case IsNotNull(a) => !allNull(a)
      case EqualTo(a, v) => v != null && !allNull(a) && within(a, v)
      case EqualNullSafe(a, v) =>
        if (v == null) !col(a).nulls.contains(0L)
        else !allNull(a) && within(a, v)
      case GreaterThan(a, v) => !allNull(a) && hiGT(a, v)
      case GreaterThanOrEqual(a, v) => !allNull(a) && hiGE(a, v)
      case LessThan(a, v) => !allNull(a) && loLT(a, v)
      case LessThanOrEqual(a, v) => !allNull(a) && loLE(a, v)
      case In(a, vs) =>
        !allNull(a) && vs.exists(v => v != null && within(a, v))
      case StringStartsWith(a, v) =>
        // truncated-prefix interval test: s startsWith v ⟹
        // s.take(|v|) == v, and truncation is order-preserving
        def prefixOf(b: Option[V]): Option[String] = b match {
          case Some(S(x)) => Some(x.take(v.length))
          case _ => None
        }
        !allNull(a) &&
          prefixOf(col(a).lo).forall(_.compareTo(v) <= 0) &&
          prefixOf(col(a).hi).forall(_.compareTo(v) >= 0)
      case _ => true // Not/EndsWith/Contains: no sound interval rule
    }
  }
}
