package graft

import graft.tools.BusDrain

/** [[BusDrain.jobsAndStagesOf]], the one stage listener the tools and the
  * specs share: it counts exactly the action's own jobs and stages, and
  * none of the drain sentinels it runs before and after the action. */
class BusDrainSpec extends SparkSpec {
  test("an RDD count is one job and one stage of two tasks, with no sentinel") {
    val (jobs, stages) = BusDrain.jobsAndStagesOf(spark) {
      spark.sparkContext.parallelize(0 until 4, 2).count()
    }
    assert(jobs == 1, s"jobs: $jobs")
    assert(stages.map(_.numTasks) == Seq(2),
      s"stages: ${stages.map(s => s"${s.stageId}:${s.name}/${s.numTasks}")}")
  }
}
