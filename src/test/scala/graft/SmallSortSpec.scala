package graft

import graft.plans.{GraftFunctions, SmallSort}
import graft.tools.BusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[graft.plans.SmallSort]]: a small final ORDER BY runs on one partition
  * behind a single-partition exchange, with no range-sampling job; a sort
  * whose input is already ordered gains no exchange; a large sort keeps
  * range partitioning; and the rows come out in the same order either way.
  */
class SmallSortSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.install(spark)
  }

  /** Runs `body` on this session's planner without the strategy: the
    * range-partitioned route every global sort took before it. Build a
    * query's DataFrame before the window: `Tables.load` installs the
    * strategy again. */
  private def withoutSmallSort[T](body: => T): T = {
    val exp = spark.experimental
    val prev = exp.extraStrategies
    exp.extraStrategies = prev.filterNot(_ eq SmallSort)
    try body finally exp.extraStrategies = prev
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  /** AQE's final plan only: its toString also prints the initial plan. */
  private def finalPlan(df: DataFrame): String =
    planOf(df).split("== Initial Plan ==").head

  private def exchanges(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains("Exchange ")).map(_.trim).toSeq

  test("q1_pricing_summary sorts on one partition and runs one job fewer") {
    query("q1_pricing_summary").collect() // the first load infers the schema in a job
    val (jobs, _) = BusDrain.jobsAndStagesOf(spark)(query("q1_pricing_summary").collect())
    val rangeQ1 = query("q1_pricing_summary")
    val (rangeJobs, _) = withoutSmallSort(BusDrain.jobsAndStagesOf(spark)(rangeQ1.collect()))
    assert(jobs == rangeJobs - 1, s"jobs: small sort $jobs, range-partitioned $rangeJobs")
    val plan = finalPlan(query("q1_pricing_summary"))
    assert(!plan.contains("rangepartitioning"), s"range sort left in:\n$plan")
    assert(plan.contains("Exchange SinglePartition"), s"expected a single-partition exchange:\n$plan")
  }

  test("join_override keeps its one user range exchange and gains none") {
    val plan = finalPlan(query("join_override"))
    val rangeJoin = query("join_override")
    val rangePlan = withoutSmallSort(finalPlan(rangeJoin))
    val ex = exchanges(plan)
    assert(ex.size == 1 && ex.head.contains("rangepartitioning(o_orderkey"),
      s"expected only repartitionByRange's exchange:\n$plan")
    assert(ex.size == exchanges(rangePlan).size)
  }

  test("a global aggregate's sort gains no exchange") {
    def df = spark.range(0, 1000, 1, 4).groupBy().agg(count(lit(1)).as("n")).orderBy($"n")
    val plan = finalPlan(df)
    val range = df
    val rangePlan = withoutSmallSort(finalPlan(range))
    assert(exchanges(plan).size == exchanges(rangePlan).size,
      s"small sort:\n$plan\nrange-partitioned:\n$rangePlan")
    assert(df.as[Long].collect().toSeq == Seq(1000L))
  }

  test("a sort input AQE would not merge into one task keeps range partitioning") {
    // the at-scale path: over the advisory partition size ...
    def rangeSorted(key: String): Unit = withConf(key -> "1") {
      val plan = finalPlan(query("q1_pricing_summary"))
      assert(plan.contains("rangepartitioning") && !plan.contains("SmallSortInput"),
        s"expected the range sort with $key=1:\n$plan")
    }
    rangeSorted("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    // ... and, when coalescing puts parallelism first, over the minimum
    // partition size, above which AQE keeps several sort tasks
    rangeSorted("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    withConf("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
        assert(!finalPlan(query("q1_pricing_summary")).contains("rangepartitioning"))
      }
    }
  }

  test("a multi-partition input sorts to the same rows, in order, as the range route") {
    def df = spark.range(0, 20000, 1, 8)
      .select($"id", (($"id" * 7919) % 101).as("k"),
        when($"id" % 13 === 0, lit(null)).otherwise(($"id" * 31) % 17).as("n"))
      .orderBy($"k".desc, $"n".asc_nulls_last, $"id")
    val plan = finalPlan(df)
    assert(plan.contains("SmallSortInput") && !plan.contains("rangepartitioning"), plan)
    val range = df
    val rangePlan = withoutSmallSort(finalPlan(range))
    assert(rangePlan.contains("rangepartitioning"), rangePlan)
    val rows = df.collect().toSeq
    assert(rows.size == 20000)
    assert(rows == range.collect().toSeq)
  }
}
