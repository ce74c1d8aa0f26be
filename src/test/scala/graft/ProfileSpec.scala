package graft

import graft.core.Knobs
import graft.core.Knobs.{Deployment, Gate, SimExact, SumsExact}
import graft.functions.SimilarityOps

/** Wiring of the one-switch deployment posture (`graft.profile`): the
  * oracle gate (which sets nothing) must keep both exactness knobs true,
  * `deployment` must flip both, and an explicit knob setting must beat the
  * profile either way. Conf keys are session-global, so every test restores
  * them.
  */
class ProfileSpec extends SparkSpec {

  test("gate profile is the default: both exactness knobs resolve true") {
    assert(Knobs.Profile(spark) == Gate)
    assert(SumsExact(spark))
    assert(SimExact(spark))
  }

  test("deployment profile flips both exactness knobs") {
    withConf("graft.profile" -> Deployment) {
      assert(!SumsExact(spark))
      assert(!SimExact(spark))
    }
  }

  test("an explicit knob setting beats the profile, both directions") {
    withConf("graft.profile" -> Deployment, "graft.sim.exact" -> "true") {
      assert(SimExact(spark), "explicit true must override deployment")
      assert(!SumsExact(spark), "untouched knob still follows the profile")
    }
    withConf("graft.sums.exact" -> "false") {
      assert(!SumsExact(spark), "explicit false must override gate")
      assert(SimExact(spark))
    }
  }

  test("unknown profile fails loud, not as a silent gate fallback") {
    withConf("graft.profile" -> "prod") {
      val e = intercept[RuntimeException](Knobs.Profile(spark))
      assert(e.getMessage.contains("graft.profile"))
    }
  }

  test("a knobbed query takes the banded route under the deployment profile") {
    withConf("graft.profile" -> Deployment) {
      // the banded plan self-joins on LSH buckets instead of the all-pairs
      // theta join — BroadcastNestedLoopJoin disappearing from the plan is
      // the observable route switch
      val plan = planOf(SimilarityOps.pairsAboveThreshold(spark, sfDir))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"deployment profile still ran the all-pairs exact join:\n$plan")
    }
  }
}
