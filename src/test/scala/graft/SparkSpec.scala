package graft

import graft.core.Session
import graft.tools.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sf0.001 data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(cores = 8, appName = "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Physical plan text after execution (AQE-final). */
  def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles
    df.queryExecution.executedPlan.toString
  }

  /** Every stage that completed while `action` ran, in completion order.
    * The bus is drained through [[BusDrain]] before the listener attaches
    * (earlier actions' stages stay out) and after `action` returns (all of
    * its stages are in); the drain's own sentinel stage is excluded. */
  def stagesOf(action: => Unit): Seq[StageInfo] = jobsAndStagesOf(action)._2

  /** [[stagesOf]], plus the number of jobs `action` started (sentinel
    * jobs excluded). */
  def jobsAndStagesOf(action: => Unit): (Int, Seq[StageInfo]) = {
    BusDrain.drain(spark)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val sentinel = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull
        if (desc != null && desc.startsWith(BusDrain.SentinelPrefix))
          e.stageInfos.foreach(si => sentinel.add(si.stageId))
        else jobs.incrementAndGet()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!sentinel.contains(e.stageInfo.stageId)) stages.add(e.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    try { action; BusDrain.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (jobs.get, stages.asScala.toSeq)
  }
}
