package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block starts. Listener events arrive
  * asynchronously but in order, so a sentinel job run afterwards marks
  * the point by which every job of the block has been seen. */
trait JobCounting { self: SparkSpec =>

  /** Runs `body` under a fresh job group and returns its result with
    * the start events of the jobs it ran, in order. */
  protected def jobEventsDuring[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val group = s"jobs_${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.add(g -> j))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      def sawSentinel = seen.toArray.exists(_.asInstanceOf[(String, _)]._1 == sentinel)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sawSentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sawSentinel, "listener never saw the sentinel job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.collect { case (`group`, j) => j })
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val (out, jobs) = jobEventsDuring(body)
    (out, jobs.size)
  }

  /** Runs `body` and returns its result with the input records its
    * jobs' tasks read (`inputMetrics.recordsRead`, summed over every
    * task of every job the block started). */
  protected def recordsReadDuring[A](body: => A): (A, Long) = {
    val read = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          read.merge(t.stageId, java.lang.Long.valueOf(m.inputMetrics.recordsRead),
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (out, jobs) = jobEventsDuring(body)
      import scala.jdk.CollectionConverters._
      val stages = jobs.flatMap(_.stageIds).toSet
      (out, read.asScala.collect { case (s, n) if stages(s) => n.longValue }.sum)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
