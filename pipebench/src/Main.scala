package graft.pipebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One workload of the pipeline benchmark, driven as a closed loop by
  * a single client thread. */
trait Workload {
  /** Untimed: open inputs and warm every per-JVM lazy state; dumps
    * outputs whose inputs do not change over the run. */
  def warmUp(out: String): Unit
  /** One cycle of timed ops; `i` counts cycles from 0. */
  def cycle(i: Int): Unit
  /** True once every op has enough samples for its statistics. */
  def enough: Boolean
  /** Untimed: dump the outputs the timed ops produced that the
    * warm-up could not (state that changed during the run). */
  def verify(out: String): Unit = ()
  /** Workload-specific facts for the run record (JSON members). */
  def extra: Seq[(String, String)] = Nil
}

/** Outputs written for the reference check. Each dump records the
  * digest of the same plan, so a timed op with the same key is tied to
  * the checked output; writing time is kept apart from set-up time. */
object Dumps {
  private val entries = scala.collection.mutable.ArrayBuffer.empty[String]
  @volatile var seconds = 0.0

  def apply(out: String, key: String, df: org.apache.spark.sql.DataFrame,
            fields: String = ""): Unit = {
    val t0 = System.nanoTime()
    val d = Digest.of(df.queryExecution)
    val path = s"$out/dumps/d${entries.size}"
    df.write.mode("overwrite").parquet(path)
    entries += s"""{"key":${Main.q(key)},"path":${Main.q(path)},"digest":${d.json}$fields}"""
    seconds += (System.nanoTime() - t0) / 1e9
  }

  def json: String = entries.mkString("[", ",", "]")
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String,
                        cores: Int, deposits: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("out"),
      kv("cores").toInt, kv.get("deposits").map(_.toInt).getOrElse(0))
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val jif0 = Probe.cpuJiffies()
    val probeT0 = System.nanoTime()
    val cpuStart = Probe.cpuLoop()
    val bwStart = Probe.bandwidthLoop()
    val probeStartS = (System.nanoTime() - probeT0) / 1e9

    val spark = GraftSession.build(master = s"local[${a.cores}]",
      shufflePartitions = a.cores * 2)
    val tracer = new Tracer(spark)
    val w: Workload = a.workload match {
      case "search_index" => new SearchIndexWorkload(spark, tracer, a)
      case "corpus_curation" => new CorpusWorkload(spark, tracer, a)
      case "listing_store" => new ListingStoreWorkload(spark, tracer, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.warmUp(a.out)
    tracer.ops.clear(); tracer.spans.clear(); tracer.counters.clear()
    // set-up ends here: JVM start → first timed op, minus the probes
    // and the writing of outputs for the reference check
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - probeStartS -
      Dumps.seconds

    val measureT0 = System.nanoTime()
    val jifM0 = Probe.cpuJiffies()
    val deadline = measureT0 + (a.seconds * 1e9).toLong
    var i = 0
    // a traced run alternates traced and untraced cycles, so the
    // tracing overhead is measured on the same ops in the same JVM; it
    // runs at least one cycle of each
    while (System.nanoTime() < deadline || !w.enough || (a.trace && i < 2)) {
      tracer.setEnabled(a.trace && i % 2 == 1)
      w.cycle(i)
      i += 1
    }
    tracer.setEnabled(false)
    val measureS = (System.nanoTime() - measureT0) / 1e9
    val jifM1 = Probe.cpuJiffies()
    w.verify(a.out)
    val cpuEnd = Probe.cpuLoop()
    val bwEnd = Probe.bandwidthLoop()
    val jif1 = Probe.cpuJiffies()
    val totalS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rss = Probe.peakRssMb()

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""workload":${q(a.workload)},"seed":${a.seed},"trace":${a.trace},"cores":${a.cores},"""
    sb ++= s""""setup_s":$setupS,"measure_s":$measureS,"cycles":$i,"peak_rss_mb":$rss,"""
    sb ++= s""""master":${q(spark.sparkContext.master)},"shuffle_partitions":${q(spark.conf.get("spark.sql.shuffle.partitions"))},"""
    sb ++= s""""evidence":{"cpu_loop_s_start":$cpuStart,"cpu_loop_s_end":$cpuEnd,"bandwidth_gbs_start":$bwStart,"bandwidth_gbs_end":$bwEnd,"""
    sb ++= s""""co_tenant_cores_measure":${Probe.coTenantCores(jifM0, jifM1, measureS)},"co_tenant_cores_run":${Probe.coTenantCores(jif0, jif1, totalS)},"""
    sb ++= s""""loadavg_end":${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}},"""
    sb ++= "\"ops\":["
    sb ++= tracer.ops.map { r =>
      val segs = r.segs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      val ctr = r.segs.keys.flatMap(s => tracer.countersFor(r.id, s).map(c =>
        s"${q(s)}:{" + s""""jobs":${c.jobs},"shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},"task_cpu_s":${c.taskCpuNs / 1e9},"task_run_s":${c.taskRunMs / 1e3}}""")).mkString("{", ",", "}")
      val rows = r.rows.map(q).mkString("[", ",", "]")
      val extra = r.extra.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      s"""{"id":${r.id},"op":${q(r.op)},"key":${q(r.key)},"traced":${r.traced},"wall":${r.wall},"cpu":${r.cpu},"ok":${r.ok},"error":${q(r.error)},"segs":$segs,"extra":$extra,"counters":$ctr,"digest":${r.digest.json},"rows":$rows}"""
    }.mkString(",\n")
    sb ++= "],\"spans\":["
    sb ++= tracer.spans.map { s =>
      s"""[${q(s.name)},${s.opId},${s.parent},${s.start},${s.end},${(s.end - s.start - s.childNanos) / 1e9}]"""
    }.mkString(",\n")
    sb ++= "],\"batches\":["
    import scala.jdk.CollectionConverters._
    sb ++= tracer.batches.asScala.map(e => e.progress.json).mkString(",\n")
    sb ++= "]"
    sb ++= s""","dumps":${Dumps.json}"""
    w.extra.foreach { case (k, v) => sb ++= s",${q(k)}:$v" }
    sb ++= "}\n"
    Files.writeString(Paths.get(a.out, "jvm.json"), sb.toString)
    spark.stop()
  }
}
