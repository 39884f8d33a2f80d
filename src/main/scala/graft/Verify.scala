package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Fail-loudly contract (round-8 lesson: 38 gates threw on a fixture
  * encoding change and silently VANISHED from the correctness JSON —
  * absence is not a visible artifact): every gate that throws is
  * recorded in `_failed.json` (name → exception message) in the same
  * outDir, so a disappeared gate is a diffable fact, not an absence.
  * `_failed.json` is always written, `{}` when everything ran.
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def toJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** Run every query, dump results, return the failures (name → error).
    * Writes `_failed.json` + `oracle_sql.json` into outDir. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
                         queries: Map[String, (SparkSession, String) => DataFrame],
                         oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
      }
    }
    Files.writeString(Paths.get(s"$outDir/_failed.json"), toJson(failed.toMap))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), toJson(oracleSql))
    failed.toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    // local-iteration filter: SPARK_GRAFT_ONLY=q58_divar_to_delta,t25_…
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = run(spark, sfDir, outDir, queries,
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size}/${queries.size} gates FAILED — see $outDir/_failed.json")
    spark.stop()
  }
}
