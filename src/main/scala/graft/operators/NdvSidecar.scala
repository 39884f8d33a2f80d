package graft.operators

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Per-commit NDV (distinct-count) sketch sidecar (`_graft_ndv`) —
  * the column statistics multi-way JOIN ORDERING needs at scale.
  * Row/byte estimates (the stats sidecar + footers) decide WHETHER a
  * side broadcasts, but with cost-based optimization enabled Spark
  * also wants per-column DISTINCT COUNTS to estimate filter and join
  * selectivity — without them a 3-table star query orders its joins
  * by raw table size and can build against the wrong side at
  * 100 TB. Delta keeps NDV out of the log; this store records one
  * DataSketches HLL register blob per (file, column) at commit, so
  * the scan can answer `distinctCount` for ANY file subset by
  * UNIONING the kept files' sketches — pruning-aware statistics for
  * free.
  *
  * Opt-in via the `ndvColumns` table property (comma list; any flat
  * column type — values sketch through their string image, which is
  * distinct-count-faithful). Each commit sketches its NEW data files
  * only — one distributed scan of those files' ndv columns, grouped
  * per file with `hll_sketch_agg` (map-side combinable, mergeable
  * registers) — while hard-linked files carry their lines verbatim:
  * commit cost stays O(new file rows) forever, the
  * [[BloomSidecar]]/[[FileStats]] carry discipline. The sidecar is a
  * pure estimation layer written AFTER the atomic publish: every
  * absence (no sidecar, no line, a stale build failure) just means
  * "no NDV estimate", never a wrong answer — the optimizer falls back
  * to its defaults.
  *
  * Soundness under the mutation model: files are immutable, so a
  * file's sketch never goes stale; deletion vectors only shrink the
  * live row set, so the union estimate is a (slight) over-count —
  * acceptable for costing, and the scan clamps it at the live row
  * count. lgK = 12 (4 KB max per register set, ~1.6% relative error)
  * — selectivity estimation needs the right order of magnitude, not
  * the exact count.
  */
object NdvSidecar {

  private[graft] val Sidecar = "_graft_ndv"
  private[graft] val PropKey = "ndvColumns"
  private val LgK = 12

  /** The table's ndv columns in PHYSICAL name space (empty when the
    * property is unset) — same manifest resolution as
    * [[BloomSidecar.bloomColsOf]]. */
  def ndvColsOf(root: String): Seq[String] = {
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

  private def toLine(file: String, colName: String, sketch: Array[Byte]): String = {
    val o = mapper.createObjectNode()
    o.put("f", file)
    o.put("c", colName)
    o.put("b64", java.util.Base64.getEncoder.encodeToString(sketch))
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

  /** Decoded register blobs of one version dir: file → column → bytes.
    * Every decode failure just drops that line. */
  private[graft] def read(vdir: Path): Map[String, Map[String, Array[Byte]]] = {
    val f = vdir.resolve(Sidecar)
    if (!Files.exists(f)) return Map.empty
    new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.flatMap { l =>
      scala.util.Try {
        val o = mapper.readTree(l)
        (o.get("f").textValue(), o.get("c").textValue(),
          java.util.Base64.getDecoder.decode(o.get("b64").textValue()))
      }.toOption
    }.toSeq.groupBy(_._1).map { case (file, es) =>
      file -> es.map(e => e._2 -> e._3).toMap
    }
  }

  /** Union the kept files' sketches per PHYSICAL column name → NDV
    * estimate. Columns missing a sketch in ANY kept file are omitted
    * (a partial union would under-estimate silently). Driver-side,
    * O(kept files × columns) register merges — microseconds each, but
    * planning calls this PER QUERY, so results memoize on the exact
    * (version dir, kept set) pair (version dirs are immutable once
    * published; the sidecar only gains lines, and a late build just
    * keeps the no-estimate answer until the cache entry rolls). */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, Set[String]), Map[String, Long]]()

  def mergedNdv(vdir: Path, keptFiles: Set[String]): Map[String, Long] = {
    val key = (vdir.toString, keptFiles)
    val hit = memo.get(key)
    if (hit != null) return hit
    val byFile = read(vdir)
    val kept = keptFiles.toSeq.sorted.map(f => byFile.getOrElse(f, Map.empty))
    val out =
      if (kept.isEmpty) Map.empty[String, Long]
      else {
        val cols = kept.map(_.keySet).reduce(_ intersect _)
        cols.flatMap { c =>
          scala.util.Try {
            val u = new org.apache.datasketches.hll.Union(LgK)
            kept.foreach(m => u.update(
              org.apache.datasketches.hll.HllSketch.heapify(m(c))))
            c -> math.round(u.getEstimate)
          }.toOption
        }.toMap
      }
    if (memo.size > 256) memo.clear() // bounded; estimates rebuild cheaply
    memo.put(key, out)
    out
  }

  // ---------------------------------------------------------- build

  /** Post-commit hook, called by every path that publishes a version:
    * no-op unless the root's `ndvColumns` property is set. Carried
    * lines for files already covered by the previous surviving
    * version (or `carryExtra` — the commit's stats source, e.g. a
    * restore/clone source); one distributed scan sketches the rest. Failure never fails the
    * already-committed write — absence only costs estimation. */
  def ensure(root: String, version: Long,
             carryExtra: Option[Path] = None): Unit =
    try ensureOrThrow(root, version, carryExtra)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft-versioned: ndv sidecar build for $root v=$version " +
            s"failed (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "the commit stands; the optimizer falls back to default " +
            "column statistics for this version")
    }

  private def ensureOrThrow(root: String, version: Long,
                            carryExtra: Option[Path]): Unit = {
    val cols = ndvColsOf(root)
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
    val tmp = Files.createTempFile(vdir, "_graft_ndv_", ".tmp")
    Files.write(tmp, all.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, vdir.resolve(Sidecar),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** One distributed pass over the new files' ndv columns: group by
    * source file, `hll_sketch_agg` per column (partial sketches merge
    * map-side — the same shape as a count-distinct, but returning the
    * mergeable registers). Values sketch through their string image so
    * every flat column type is admissible; a column a file doesn't
    * carry (pre-evolution) sketches its nulls away to an empty — and
    * still-correct — register set. */
  private def buildFor(spark: SparkSession, vdir: Path,
                       names: Seq[String], cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, input_file_name, lit}
    val files = names.map(n => vdir.resolve(n).toString)
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    val present = df.schema.fieldNames.toSet
    val sketchCols = cols.filter(present).map(c =>
      hll_sketch_agg(col(c).cast("string"), lit(LgK)).as(c))
    if (sketchCols.isEmpty) return Seq.empty
    df.groupBy(input_file_name().as("__file"))
      .agg(sketchCols.head, sketchCols.tail: _*)
      .collect()
      .flatMap { row =>
        val fileName = Paths.get(
          new java.net.URI(row.getString(0)).getPath).getFileName.toString
        cols.filter(present).zipWithIndex.flatMap { case (c, i) =>
          Option(row.get(i + 1)).map(b =>
            toLine(fileName, c, b.asInstanceOf[Array[Byte]]))
        }
      }.toSeq
  }
}
