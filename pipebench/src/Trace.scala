package graft.pipebench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `segs` holds the wall seconds of each
  * segment (tables / build / plan / exec) measured inside it. */
final class OpRecord(val id: Int, val op: String, val key: String,
                     val traced: Boolean) {
  val segs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var wall: Double = 0.0
  /** CPU seconds of the JVM's work during the op ([[Probe.workCpuS]]) */
  var cpu: Double = 0.0
  var ok: Boolean = true
  var digest: Digest = Digest.Empty
  var rows: Seq[String] = Nil
  var error: String = ""
  /** op-specific measurements beside the segment times */
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** A span: one call wrapped by the benchmark, nested by the calling
  * thread's stack. Self time = duration minus the children's. */
final case class Span(name: String, opId: Int, parent: Int, start: Long,
                      var end: Long = 0L, var childNanos: Long = 0L)

/** Per-(op id, segment) Spark counters collected by the listener. */
final class SegCounters {
  var jobs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
}

/** The benchmark's tracer. With `enabled = false` it only keeps the
  * op walls; with `enabled = true` it also records spans, tags every
  * Spark job with the op and segment that started it (a thread-local
  * job property), and attributes task metrics to them through a
  * SparkListener; a StreamingQueryListener keeps micro-batch
  * progress. Tracing can be switched per op, so one run can time the
  * same ops with and without it. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val currentOp = new ThreadLocal[OpRecord]
  @volatile var enabled = false

  // ---- listener side (listener-bus thread)
  private val stageSeg = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val counters = new java.util.concurrent.ConcurrentHashMap[String, SegCounters]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val Prop = "pipebench.seg"

  private def countersOf(seg: String): SegCounters =
    counters.computeIfAbsent(seg, _ => new SegCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val seg = Option(e.properties).map(_.getProperty(Prop)).orNull
      if (seg != null) {
        countersOf(seg).synchronized { countersOf(seg).jobs += 1 }
        e.stageIds.foreach(id => stageSeg.put(id, seg))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val seg = Option(e.properties).map(_.getProperty(Prop)).orNull
      if (seg != null) stageSeg.putIfAbsent(e.stageInfo.stageId, seg)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val seg = stageSeg.get(e.stageId)
      val m = e.taskMetrics
      if (seg != null && m != null) {
        val c = countersOf(seg)
        c.synchronized {
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) batches.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var registered = false
  /** Switches tracing on or off; listeners are registered only while
    * it is on, so an untraced op runs with none. */
  def setEnabled(on: Boolean): Unit = {
    if (on && !registered) {
      sc.addSparkListener(listener); spark.streams.addListener(streamListener)
      registered = true
    } else if (!on && registered) {
      drain()
      sc.removeSparkListener(listener); spark.streams.removeListener(streamListener)
      registered = false
    }
    enabled = on
  }

  /** Waits until the listener bus delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PipebenchBus.drain(sc)

  /** Times one op. The body runs its segments through [[seg]]. */
  def op[T](op: String, key: String)(body: OpRecord => T): OpRecord = {
    val rec = ops.synchronized {
      val r = new OpRecord(ops.size, op, key, enabled)
      ops += r
      r
    }
    val prevOp = currentOp.get
    currentOp.set(rec)
    val c0 = Probe.workCpuS()
    val t0 = System.nanoTime()
    try span(op)(body(rec))
    catch { case e: Throwable =>
      rec.ok = false
      rec.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
    } finally {
      rec.wall = (System.nanoTime() - t0) / 1e9
      rec.cpu = Probe.workCpuS() - c0
      currentOp.set(prevOp)
    }
    rec
  }

  /** Times one segment of the current op and tags the Spark jobs it
    * starts (on this thread and on threads it creates) with it. */
  def seg[T](name: String)(body: => T): T = {
    val rec = currentOp.get
    val prop = sc.getLocalProperty(Prop)
    if (enabled && rec != null) sc.setLocalProperty(Prop, s"${rec.id}|$name")
    val t0 = System.nanoTime()
    try span(name)(body)
    finally {
      if (rec != null)
        rec.segs(name) = rec.segs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Prop, prop)
    }
  }

  /** Wraps a call in a span (traced ops only). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val rec = currentOp.get
      val parent = stack.get.headOption.getOrElse(-1)
      val s = Span(name, if (rec == null) -1 else rec.id, parent, System.nanoTime())
      val idx = spans.synchronized { spans += s; spans.size - 1 }
      stack.set(idx :: stack.get)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
        if (parent >= 0) spans.synchronized {
          spans(parent).childNanos += s.end - s.start }
      }
    }

  def countersFor(opId: Int, segName: String): Option[SegCounters] =
    Option(counters.get(s"$opId|$segName"))
}
