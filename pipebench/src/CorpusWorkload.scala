package graft.pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** corpus_curation: one pass = four certified curation gates in a row,
  * each called through `SparkEntry.queries` over the generated
  * documents/embeddings directory. Most of their Spark jobs start
  * inside the gate call (invariant actions, LM training, stored
  * state), so this workload weighs the `queries` layer's build.
  * t116_ccnet_pipeline is left out: its ~9 s of in-gate jobs per call
  * do not fit the per-run time budget (see README.md). */
final class CorpusWorkload(spark: SparkSession, t: Tracer, a: Main.Args)
    extends Workload {
  val gates: Seq[(String, String)] = Seq(
    "gopher" -> "t117_gopher_rules",
    "perplexity" -> "t112_perplexity_filter",
    "lsh_dedup" -> "t99_incremental_lsh_dedup",
    "semdedup" -> "v41_semdedup")
  private var passes = 0
  val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  val passCpus = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def gateDf(gate: String): DataFrame =
    t.seg("build")(t.span(s"SparkEntry.queries:$gate")(
      SparkEntry.queries(gate)(spark, a.data)))

  /** drop per-gate leftovers (cached frames, checkpointed RDDs) so one
    * gate's storage does not weigh on the next one's numbers */
  private def dropState(): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def pass(out: Option[String] = None): Unit = {
    val c0 = Probe.workCpuS()
    val t0 = System.nanoTime()
    gates.foreach { case (op, gate) =>
      var df: DataFrame = null
      t.op(op, gate) { rec =>
        df = gateDf(gate)
        t.seg("plan")(df.queryExecution.executedPlan)
        rec.digest = t.seg("exec")(Digest.of(df.queryExecution))
      }
      out.foreach(o => Dumps(o, gate, df,
        s""","oracle":${Main.q(SparkEntry.oracleSql(gate))}"""))
      dropState()
    }
    passWalls += (System.nanoTime() - t0) / 1e9
    passCpus += Probe.workCpuS() - c0
  }

  def warmUp(out: String): Unit = { pass(Some(out)); passWalls.clear(); passCpus.clear() }

  def cycle(i: Int): Unit = { pass(); passes += 1 }

  def enough: Boolean = passes >= 1

  override def extra: Seq[(String, String)] = Seq(
    "pass_walls" -> passWalls.mkString("[", ",", "]"),
    "pass_cpus" -> passCpus.mkString("[", ",", "]"))
}
