package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession

/** Deterministic listener-bus quiesce, and the one stage listener built on
  * it (`profile-stages` and the specs read their jobs and stages through
  * [[jobsAndStagesOf]]).
  *
  * The drain replaced fixed `Thread.sleep` "settle" waits, which were both
  * slow and, on a loaded box, not actually sufficient. Every listener added
  * via `addSparkListener` shares ONE async queue whose dispatch thread
  * delivers each event to ALL listeners before the next event, so once a
  * sentinel job's JobEnd reaches the listener registered here, every event
  * posted before it — in particular every TaskEnd of jobs whose actions
  * already returned — has been delivered to every listener in the queue.
  * The sentinel is a single-partition RDD count — exactly ONE job with one
  * shuffle-free task, so the JobEnd latch is exact (no AQE sub-jobs to
  * race) and the sentinel contributes zero shuffle bytes. Latching on
  * JobEnd (not JobStart) also orders that one TaskEnd before the latch
  * release.
  */
object BusDrain {
  /** Job-description prefix of every drain sentinel. JobStart is delivered
    * before the sentinel's stage completes on the FIFO bus, so a listener
    * that records the sentinel's stage ids at JobStart can exclude its
    * stage deterministically. */
  private val SentinelPrefix = "graft-drain-sentinel-"
  private val seq = new AtomicLong

  def drain(spark: SparkSession): Unit = {
    val desc = SentinelPrefix + seq.incrementAndGet()
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      // JobStart and JobEnd arrive on the same dispatch thread, in post
      // order, so the id handoff needs no synchronization; real job ids
      // are non-negative, so the -1 init can never match
      @volatile private var sentinelJobId = -1
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (descriptionOf(j) == desc) sentinelJobId = j.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJobId) latch.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // save/restore, not set/clear: a caller that grouped its own jobs
      // under a description (Spark UI) must keep it across a drain
      val callerDesc =
        spark.sparkContext.getLocalProperty("spark.job.description")
      spark.sparkContext.setJobDescription(desc)
      // single-partition RDD count, NOT spark.range(1).count(): the SQL
      // count plans partial-agg → Exchange → final-agg over
      // leafNodeDefaultParallelism slices — ~33 tasks, real shuffle
      // bytes, and 2+ AQE jobs sharing the description, which both
      // contaminates byte counters and races a first-JobEnd latch
      // against the second job's events. The RDD count is exactly one
      // job, one stage, one task, zero shuffle.
      try spark.sparkContext.parallelize(0 until 1, 1).count()
      finally spark.sparkContext.setJobDescription(callerDesc)
      require(latch.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the drain sentinel JobEnd within 60s")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The number of jobs `action` started and every stage that completed
    * while it ran, in completion order; `onTask` sees each of its tasks'
    * end. The bus is drained before the listener attaches (earlier
    * actions' events stay out) and after `action` returns (all of its
    * events are in); the drain's own sentinel job and stage are excluded. */
  def jobsAndStagesOf(spark: SparkSession, onTask: SparkListenerTaskEnd => Unit = _ => ())(
      action: => Unit): (Int, Seq[StageInfo]) = {
    drain(spark)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val sentinel = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (descriptionOf(e).startsWith(SentinelPrefix))
          e.stageInfos.foreach(si => sentinel.add(si.stageId))
        else jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!sentinel.contains(e.stageInfo.stageId)) stages.add(e.stageInfo)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!sentinel.contains(e.stageId)) onTask(e)
    }
    spark.sparkContext.addSparkListener(listener)
    try { action; drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (jobs.get, stages.asScala.toSeq)
  }

  private def descriptionOf(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
}
