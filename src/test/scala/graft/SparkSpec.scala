package graft

import graft.core.{Knobs, Session}
import graft.tools.BusDrain
import org.apache.spark.scheduler.StageInfo
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

  /** Run `body` with `kvs` set on the session conf, then restore each key's
    * prior value ([[Knobs.withConf]]). */
  def withConf[T](kvs: (String, String)*)(body: => T): T = Knobs.withConf(spark, kvs: _*)(body)

  /** Every stage that completed while `action` ran, in completion order
    * ([[BusDrain.jobsAndStagesOf]]). */
  def stagesOf(action: => Unit): Seq[StageInfo] =
    BusDrain.jobsAndStagesOf(spark)(action)._2
}
