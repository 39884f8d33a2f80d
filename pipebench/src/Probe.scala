package graft.pipebench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Order-independent content digest of a result: row count plus the
  * sum of a 64-bit hash of every row's UnsafeRow bytes. Equal results
  * of the same plan shape give equal digests on any run. */
final case class Digest(rows: Long, hash: Long) {
  def json: String = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}"}"""
}

object Digest {
  val Empty: Digest = Digest(-1L, 0L)

  /** Materialises `qe`'s own physical plan (no count() pruning) and
    * folds every output row into the digest in the same job. */
  def of(qe: QueryExecution): Digest = {
    val schema = qe.executedPlan.schema
    val parts = qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = r match { case u: UnsafeRow => u; case o => proj(o) }
        val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42)
        val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 0x5bd1e995)
        h += (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
        n += 1
      }
      Iterator((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Materialises `qe` and returns its rows as canonical strings (for
    * results small enough to check row by row). */
  def rowsOf(qe: QueryExecution): Seq[String] = {
    val schema = qe.executedPlan.schema
    val types = schema.fields.map(_.dataType)
    qe.toRdd.mapPartitions { it =>
      it.map { (r: InternalRow) =>
        types.indices.map { i =>
          if (r.isNullAt(i)) "NULL" else String.valueOf(r.get(i, types(i)))
        }.mkString("\u0001")
      }
    }.collect().toSeq
  }
}

/** Evidence about the box the run measured on, recorded beside the
  * metrics (never as metrics). */
object Probe {
  /** (busy jiffies of the whole box, busy jiffies of this process) —
    * /proc/stat minus idle and iowait, and utime + stime of
    * /proc/self/stat; USER_HZ is 100. */
  def cpuJiffies(): (Long, Long) =
    try {
      val total = {
        val f = scala.io.Source.fromFile("/proc/stat")
        try {
          val p = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          p.sum - p(3) - (if (p.length > 4) p(4) else 0L)
        } finally f.close()
      }
      val self = {
        val f = scala.io.Source.fromFile("/proc/self/stat")
        try {
          val s = f.mkString
          val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
          rest(11).toLong + rest(12).toLong
        } finally f.close()
      }
      (total, self)
    } catch { case _: Throwable => (0L, 0L) }

  /** Co-tenant CPU in average cores between two jiffy samples. */
  def coTenantCores(a: (Long, Long), b: (Long, Long), seconds: Double): Double =
    if (seconds <= 0 || b._1 <= a._1) 0.0
    else math.max(0.0, ((b._1 - a._1) - (b._2 - a._2)) / 100.0 / seconds)

  /** Fixed single-thread integer loop: seconds for a constant amount
    * of work (lower = faster core). */
  def cpuLoop(): Double = {
    var x = 88172645463325252L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42) println("")
    dt
  }

  /** STREAM-style triad a = b + s*c over arrays far larger than the
    * caches: best-of-3 bandwidth in GB/s (3 arrays x 8 B per element). */
  def bandwidthLoop(): Double = {
    val n = 8 * 1024 * 1024
    val a = new Array[Double](n)
    val b = Array.fill(n)(1.0)
    val c = Array.fill(n)(2.0)
    var best = Double.MaxValue
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { a(i) = b(i) + 3.0 * c(i); i += 1 }
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    if (a(n - 1) == 0) println("")
    24.0 * n / best / 1e9
  }

  private lazy val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** JIT compiler threads, fixed from JVM start (the JVM runs with
    * -XX:-UseDynamicNumberOfCompilerThreads) */
  private lazy val compilerTids: Seq[String] =
    Option(new java.io.File("/proc/self/task").list()).toSeq.flatten.filter { tid =>
      try readFile(s"/proc/self/task/$tid/comm").contains("CompilerThre")
      catch { case _: java.io.IOException => false }
    }

  private def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** CPU seconds this JVM has spent on the workload: every thread,
    * ended ones too, minus the JIT compiler threads, whose work on
    * Spark's generated classes goes on long after warm-up. CPU time
    * leaves out time the host's hypervisor stole from this VM. */
  def workCpuS(): Double = {
    val jitNs = compilerTids.map { tid =>
      try readFile(s"/proc/self/task/$tid/schedstat").trim.split(" ")(0).toLong
      catch { case _: java.io.IOException => 0L }
    }.sum
    (osBean.getProcessCpuTime - jitNs) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def peakRssMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally f.close()
    } catch { case _: Throwable => 0.0 }
}
