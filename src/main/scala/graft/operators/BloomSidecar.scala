package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.sources._
import org.apache.spark.util.sketch.BloomFilter

/** Per-commit BLOOM FILTER sidecar (`_graft_bloom`) — point-lookup data
  * skipping where min/max statistics cannot help. A file clustered on
  * one column holds a near-uniform scatter of every OTHER
  * high-cardinality column, so its [min, max] on a key like an id
  * spans the whole domain and [[FileStats]] refutes nothing; a
  * per-file Bloom filter over the key refutes `key = v` probes for
  * every file that does not contain `v` — at 100 TB that is the
  * difference between a point DELETE opening one file and opening the
  * table (the Delta Lake bloom-filter-index contract; reference
  * consumer: the per-record cleanup deletes,
  * del_unuse_record_in_kilid.py:20-24).
  *
  * Opt-in via the `bloomFilterColumns` table property (comma list of
  * integral/string columns). Each commit builds filters for its NEW
  * data files only — one distributed scan of just those files' bloom
  * columns (projection-pruned), per-partition partial filters merged
  * per file, one small sidecar written by the driver. Hard-linked
  * (name-stable) files carry their lines verbatim, so commit cost
  * stays O(new file rows) no matter how large the table grows. The
  * sidecar is written AFTER the version's atomic rename: it is a pure
  * optimization layer, and every absence — no sidecar, no line for a
  * file, no filter for a column, an unparseable line — falls back to
  * "may contain", with row-group pruning and Spark's Filter above the
  * scan as the correctness backstop (the same conservatism contract as
  * [[FileStats]]).
  *
  * Soundness under the table's mutation model: data files are
  * immutable for life (row-level ops replace or hard-link them, never
  * edit), so a file's filter never goes stale; deletion vectors only
  * SHRINK the live row set, so the filter stays a valid
  * over-approximation; a file that predates an ADD COLUMN of a bloom
  * column reads that column as all-null and its (column-absent) line
  * correctly refutes every equality probe — null never equals.
  * Columns are keyed by PHYSICAL name, like the stats sidecar: pushed
  * filters arrive translated at the scan boundary, and
  * [[bloomColsOf]] translates the property's logical names through
  * the column-mapping manifest.
  */
object BloomSidecar {

  private[graft] val Sidecar = "_graft_bloom"
  private[graft] val PropKey = "bloomFilterColumns"

  /** 1% per-file false-positive rate: at 10k files a point probe
    * expects ~100 false survivors — each then refuted by row-group
    * stats or read for nothing; cheap against the 9,900 skipped. */
  private val Fpp = 0.01

  /** Floor on expected items so tiny files don't create filters too
    * small to merge partial results into. */
  private val MinItems = 64L

  // ------------------------------------------------- table properties

  /** The table's bloom columns in PHYSICAL name space (empty when the
    * property is unset). Reads the catalog's `_graft_props.json`
    * (k=v lines) and `_graft_colmap` manifests at the root — the same
    * files the DSv2 table loader resolves. */
  def bloomColsOf(root: String): Seq[String] = {
    val props = Paths.get(root, "_graft_props.json")
    if (!Files.exists(props)) return Seq.empty
    val logical = new String(Files.readAllBytes(props),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator
      .collectFirst { case l if l.startsWith(PropKey + "=") =>
        l.drop(PropKey.length + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }.getOrElse(Seq.empty)
    if (logical.isEmpty) return Seq.empty
    val cm = Paths.get(root, "_graft_colmap")
    val logicalToPhysical: Map[String, String] =
      if (!Files.exists(cm)) Map.empty
      else new String(Files.readAllBytes(cm),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator
        .collect { case l if l.startsWith("m\t") =>
          val Array(_, lg, ph) = l.split("\t", 3); lg -> ph
        }.toMap
    logical.map(c => logicalToPhysical.getOrElse(c, c))
  }

  // ---------------------------------------------------------- codec

  private val mapper = new ObjectMapper()

  private def toLine(file: String, colName: String, bloom: BloomFilter): String = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val o = mapper.createObjectNode()
    o.put("f", file)
    o.put("c", colName)
    o.put("b64", java.util.Base64.getEncoder.encodeToString(bos.toByteArray))
    mapper.writeValueAsString(o)
  }

  /** Raw sidecar lines keyed by (file, column) — the carry unit. */
  private def rawLines(vdir: Path): Map[(String, String), String] = {
    val f = vdir.resolve(Sidecar)
    if (!Files.exists(f)) Map.empty
    else new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.flatMap { l =>
      scala.util.Try {
        val o = mapper.readTree(l)
        (o.get("f").textValue(), o.get("c").textValue()) -> l
      }.toOption
    }.toMap
  }

  /** Decoded filters of one version dir: file → column → filter. Every
    * decode failure just drops that line (conservatism contract). */
  def read(vdir: Path): Map[String, Map[String, BloomFilter]] = {
    val f = vdir.resolve(Sidecar)
    if (!Files.exists(f)) return Map.empty
    new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.flatMap { l =>
      scala.util.Try {
        val o = mapper.readTree(l)
        val bytes = java.util.Base64.getDecoder.decode(o.get("b64").textValue())
        (o.get("f").textValue(), o.get("c").textValue(),
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
      }.toOption
    }.toSeq.groupBy(_._1).map { case (file, es) =>
      file -> es.map(e => e._2 -> e._3).toMap
    }
  }

  // ---------------------------------------------------------- build

  /** Post-commit hook, called by every path that publishes a version:
    * no-op unless the root's `bloomFilterColumns` property is set.
    * Carries lines for manifest files already covered by the previous
    * surviving version (or `carryExtra` — the commit's stats source,
    * e.g. a restore/clone source), builds filters for the rest with
    * ONE distributed scan of those files' bloom columns, and atomically
    * publishes the sidecar.
    * Without an active SparkSession only the carry half runs — the
    * missing lines cost pruning, never correctness. */
  def ensure(root: String, version: Long,
             carryExtra: Option[Path] = None): Unit =
    // the sidecar is a pure optimization layer running AFTER the atomic
    // publish on every commit path — a transient failure of its build
    // job (a real distributed scan) must never fail an ALREADY-COMMITTED
    // write: the caller would see the INSERT fail, retry, and
    // double-append. Absence only costs pruning, so log and move on.
    try ensureOrThrow(root, version, carryExtra)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft-versioned: bloom sidecar build for $root v=$version " +
            s"failed (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "the commit stands; point-lookup pruning falls back to " +
            "row-group stats for this version")
    }

  private def ensureOrThrow(root: String, version: Long,
                            carryExtra: Option[Path]): Unit = {
    val cols = bloomColsOf(root)
    if (cols.isEmpty) return
    val vdir = Paths.get(root, s"v=$version")
    val dataNames = Versioned.manifestEntries(vdir).map(_._1)
      .getOrElse(Versioned.listParquet(vdir).map(_.getFileName.toString))
    if (dataNames.isEmpty) return
    val prev = Versioned.versions(root).filter(_ < version).lastOption
      .map(p => Paths.get(root, s"v=$p"))
    val carried: Map[(String, String), String] =
      (prev.toSeq ++ carryExtra.toSeq).distinct.map(rawLines)
        .foldLeft(Map.empty[(String, String), String])(_ ++ _)
    def linesOf(name: String): Option[Seq[String]] = {
      val ls = cols.flatMap(c => carried.get((name, c)))
      if (ls.size == cols.size) Some(ls) else None
    }
    val (coveredNames, missing) = dataNames.partition(linesOf(_).isDefined)
    val built: Seq[String] =
      if (missing.isEmpty) Seq.empty
      else SparkSession.getActiveSession match {
        case None => Seq.empty // carry-only caller (restore without a session)
        case Some(spark) => buildFor(spark, vdir, missing, cols)
      }
    val all = coveredNames.flatMap(linesOf(_).get) ++ built
    if (all.isEmpty) return
    val tmp = Files.createTempFile(vdir, "_graft_bloom_", ".tmp")
    Files.write(tmp, all.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, vdir.resolve(Sidecar),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** One distributed pass over the new files' bloom columns:
    * per-partition partial filters per (file, column), merged by
    * treeReduce, serialized by the driver. Filters are sized from the
    * stats sidecar's per-file row counts (already footer-aggregated at
    * commit), so a wide file gets a wide filter and merge stays
    * compatible (same file → same size). Values hash by the column's
    * TYPE — integral as long, string as UTF-8 — matching [[mayMatch]]'s
    * probe side exactly. */
  private def buildFor(spark: SparkSession, vdir: Path,
                       names: Seq[String], cols: Seq[String]): Seq[String] = {
    val rowsByFile: Map[String, Long] =
      FileStats.read(vdir).map { case (f, st) => f -> st.rows }
    val files = names.map(n => vdir.resolve(n).toString)
    // mergeSchema-free explicit read: files of one commit share the
    // snapshot's physical schema; a column a file lacks reads as null
    // and contributes nothing (absence refutes — null never equals)
    val base = spark.read.parquet(files: _*)
    val present = cols.filter(base.schema.fieldNames.contains)
    if (present.isEmpty) return Seq.empty
    val integral: Set[String] = present.filter { c =>
      base.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }.toSet
    val expected: Map[String, Long] =
      names.map(n => n -> math.max(MinItems, rowsByFile.getOrElse(n, MinItems))).toMap
    val fpp = Fpp
    val partials = base
      .select(input_file_name().as("__f") +: present.map(col): _*)
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[(String, String), BloomFilter]
        it.foreach { r =>
          val name = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
          present.zipWithIndex.foreach { case (c, i) =>
            val v = r.get(i + 1)
            if (v != null) {
              val b = acc.getOrElseUpdate((name, c),
                BloomFilter.create(expected.getOrElse(name, MinItems), fpp))
              if (integral(c)) b.putLong(v.asInstanceOf[Number].longValue())
              else b.putString(String.valueOf(v))
            }
          }
        }
        Iterator(acc.toMap)
      }
    def mergeMaps(a: Map[(String, String), BloomFilter],
                  b: Map[(String, String), BloomFilter]): Map[(String, String), BloomFilter] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), BloomFilter]
      m ++= a
      b.foreach { case (k, bf) =>
        m.get(k) match {
          case Some(existing) => existing.mergeInPlace(bf); ()
          case None => m(k) = bf
        }
      }
      m.toMap
    }
    // treeAggregate (not treeReduce): an all-empty commit has zero
    // partitions and must yield zero lines, not throw
    val merged = partials.treeAggregate(
      Map.empty[(String, String), BloomFilter])(mergeMaps, mergeMaps)
    merged.toSeq.map { case ((f, c), bf) => toLine(f, c, bf) }
  }

  // ---------------------------------------------------------- probe

  /** Can `file`'s filters admit a row matching the pushed atom?
    * Equality-family only — everything else is Someone Else's Problem
    * (stats, row groups, Spark's Filter). Null probes keep the
    * file: the filter holds non-null values only and IsNull semantics
    * belong to the null-count statistics. */
  def mayMatch(blooms: Map[String, BloomFilter], f: Filter): Boolean = f match {
    case And(l, r) => mayMatch(blooms, l) && mayMatch(blooms, r)
    case Or(l, r) => mayMatch(blooms, l) || mayMatch(blooms, r)
    case EqualTo(a, v) => probe(blooms.get(a), v)
    case EqualNullSafe(a, v) if v != null => probe(blooms.get(a), v)
    case In(a, vs) =>
      blooms.get(a) match {
        case None => true
        case some => vs.exists(v => v != null && probe(some, v))
      }
    case _ => true
  }

  /** Type-dispatched membership probe; any type the build side never
    * hashes keeps the file. */
  private def probe(bloom: Option[BloomFilter], v: Any): Boolean = bloom match {
    case None => true
    case Some(b) => v match {
      case null => true
      case x: Byte => b.mightContainLong(x.toLong)
      case x: Short => b.mightContainLong(x.toLong)
      case x: Int => b.mightContainLong(x.toLong)
      case x: Long => b.mightContainLong(x)
      case x: String => b.mightContainString(x)
      case _ => true
    }
  }

  /** Expected-files-kept diagnostic for specs and gates: how many of
    * the version's files survive an equality probe, next to the total.
    */
  def survivors(vdir: Path, f: Filter): (Int, Int) = {
    val bl = read(vdir)
    val names = Versioned.manifestEntries(vdir).map(_._1)
      .getOrElse(Versioned.listParquet(vdir).map(_.getFileName.toString))
    (names.count(n => mayMatch(bl.getOrElse(n, Map.empty), f)), names.size)
  }
}
