package graft.pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.SearchIndex

/** search_index: the nightly full rebuild, hourly incrementals over an
  * advancing ModifiedDate watermark, and by-id lookups, over a seeded
  * FIXTURES.md §1 star schema. Every op resolves its tables through
  * `Tables.table`, as the reference's per-invocation scripts do. */
final class SearchIndexWorkload(spark: SparkSession, t: Tracer, a: Main.Args)
    extends Workload {
  private val dir = a.data
  private val nDeposits = a.deposits
  private val LookupsPerCycle = 6
  // a run ends only after three cycles and 18 lookups, even past --seconds
  private val MinLookups = 18
  private val MinRebuilds = 3
  // ModifiedDate range of the generator: 2025-01-01 + 270 days
  private val t0 = java.time.LocalDateTime.parse("2025-01-01T00:00:00")
  private def at(days: Int): String = t0.plusDays(days.toLong)
    .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  val rebuildWatermark: String = at(90)
  /** incremental watermarks, alternated: the last 20 and 10 days */
  val incrementalWatermarks: Seq[String] = Seq(250, 260).map(at)
  private val rng = new scala.util.Random(a.seed)
  private var lookups = 0

  private def table(name: String): DataFrame =
    t.span(s"Tables.table:$name")(Tables.table(spark, dir, name))

  private def star(withRoles: Boolean): SearchIndex.Tables = t.seg("tables") {
    SearchIndex.Tables(
      deposits = table("deposits"),
      customFieldValues = table("custom_field_values"),
      customFieldOptions = table("custom_field_options"),
      depositCategories = table("deposit_categories"),
      baseInfos = table("base_infos"),
      regions = table("regions"),
      userRoles = if (withRoles) table("user_roles") else null)
  }

  private def ts(s: String) = to_timestamp(lit(s))

  private def rebuildDf(): DataFrame = {
    val st = star(withRoles = true)
    t.seg("build")(t.span("SearchIndex.fullRebuild")(
      SearchIndex.fullRebuild(st, ts(rebuildWatermark), lit(2025))
        .orderBy(col("id").desc)))
  }

  private def incrementalDf(w: String): DataFrame = {
    val st = star(withRoles = true)
    t.seg("build")(t.span("SearchIndex.incremental")(
      SearchIndex.incremental(st, ts(w), lit(2025)).orderBy(col("id").desc)))
  }

  private def lookupDf(id: Int): DataFrame = {
    val st = star(withRoles = false)
    t.seg("build")(t.span("SearchIndex.depositById")(SearchIndex.depositById(st, id)))
  }

  /** plan + materialise with a digest */
  private def run(rec: OpRecord, df: DataFrame): Unit = {
    t.seg("plan")(df.queryExecution.executedPlan)
    rec.digest = t.seg("exec")(Digest.of(df.queryExecution))
  }

  private def rebuild(): Unit =
    t.op("rebuild", "rebuild")(rec => run(rec, rebuildDf()))

  private def incremental(w: String): Unit =
    t.op("incremental", s"incremental@$w")(rec => run(rec, incrementalDf(w)))

  private def lookup(id: Int): Unit = {
    t.op("lookup", s"lookup@$id") { rec =>
      val df = lookupDf(id)
      t.seg("plan")(df.queryExecution.executedPlan)
      rec.rows = t.seg("exec")(Digest.rowsOf(df.queryExecution))
    }
    lookups += 1
  }

  private def nextId(): Int = 1 + rng.nextInt(nDeposits)

  def warmUp(out: String): Unit = {
    rebuild()
    Dumps(out, "rebuild", rebuildDf())
    incrementalWatermarks.foreach { w =>
      incremental(w)
      Dumps(out, s"incremental@$w", incrementalDf(w))
    }
    (0 until 3).foreach(_ => lookup(nextId()))
    lookups = 0
  }

  def cycle(i: Int): Unit = {
    rebuild()
    incremental(incrementalWatermarks(i % incrementalWatermarks.size))
    (0 until LookupsPerCycle).foreach(_ => lookup(nextId()))
  }

  def enough: Boolean =
    lookups >= MinLookups && t.ops.count(_.op == "rebuild") >= MinRebuilds

  override def extra: Seq[(String, String)] = Seq(
    "rebuild_watermark" -> Main.q(rebuildWatermark),
    "incremental_watermarks" -> incrementalWatermarks.map(Main.q).mkString("[", ",", "]"))
}
