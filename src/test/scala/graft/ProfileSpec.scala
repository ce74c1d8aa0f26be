package graft

import graft.core.Profile
import graft.functions.{DedupOps, SimilarityOps, TextOps}

/** Wiring of the one-switch deployment posture (`graft.profile`): the
  * oracle gate (which sets nothing) must keep both exactness knobs true,
  * `deployment` must flip both, and an explicit knob setting must beat the
  * profile either way. Conf keys are session-global, so every test restores
  * them in a finally.
  */
class ProfileSpec extends SparkSpec {

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit =
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kvs.foreach { case (k, _) => spark.conf.unset(k) }

  test("gate profile is the default: both exactness knobs resolve true") {
    assert(Profile.current(spark) == Profile.Gate)
    assert(QueryPack.exactSums(spark))
    assert(SimilarityOps.exactSim(spark))
  }

  test("deployment profile flips both exactness knobs") {
    withConf("graft.profile" -> Profile.Deployment) {
      assert(!QueryPack.exactSums(spark))
      assert(!SimilarityOps.exactSim(spark))
    }
  }

  test("an explicit knob setting beats the profile, both directions") {
    withConf("graft.profile" -> Profile.Deployment, "graft.sim.exact" -> "true") {
      assert(SimilarityOps.exactSim(spark), "explicit true must override deployment")
      assert(!QueryPack.exactSums(spark), "untouched knob still follows the profile")
    }
    withConf("graft.sums.exact" -> "false") {
      assert(!QueryPack.exactSums(spark), "explicit false must override gate")
      assert(SimilarityOps.exactSim(spark))
    }
  }

  test("unknown profile fails loud, not as a silent gate fallback") {
    withConf("graft.profile" -> "prod") {
      val e = intercept[RuntimeException](Profile.current(spark))
      assert(e.getMessage.contains("graft.profile"))
    }
  }

  test("a knobbed query takes the banded route under the deployment profile") {
    withConf("graft.profile" -> Profile.Deployment) {
      // the banded plan self-joins on LSH buckets instead of the all-pairs
      // theta join — BroadcastNestedLoopJoin disappearing from the plan is
      // the observable route switch
      val plan = planOf(SimilarityOps.pairsAboveThreshold(spark, sfDir))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"deployment profile still ran the all-pairs exact join:\n$plan")
    }
  }

  test("a malformed knob value fails naming the key and the bad value") {
    val readers: Seq[(String, String, () => Any)] = Seq(
      ("graft.dedup.bucketcap", "lots", () => DedupOps.bucketCap(spark)),
      ("graft.sim.prefilter", "yes", () => SimilarityOps.prefilterOn(spark)),
      ("graft.dedup.hashverify", "yes", () => DedupOps.hashVerify(spark)),
      ("graft.text.decontam.bloom", "yes", () => TextOps.decontamBloom(spark)),
      ("graft.sim.exact", "yes", () => SimilarityOps.exactSim(spark)),
      ("graft.sums.exact", "yes", () => QueryPack.exactSums(spark)),
      ("graft.sim.probe.pairs", "two", () => SimilarityOps.probeBitsOf(spark, "pairs", 4)),
      ("graft.sim.bucketcap.pairs", "big", () => SimilarityOps.simBucketCap(spark, "pairs")),
      ("graft.sim.rescue.samelabel", "high", () => SimilarityOps.rescueOf(spark, "samelabel")),
      ("graft.sim.rescue.maxfrac.samelabel", "most",
        () => SimilarityOps.rescueMaxFracOf(spark, "samelabel")),
      ("graft.sim.bands.pairs", "8by4", () => SimilarityOps.bandShape(spark, "pairs", 16, 2)),
      ("graft.stream.checkpoint.checksum", "yes",
        () => graft.streaming.EventStreams.checkpointChecksum(spark)))
    for ((key, bad, read) <- readers) withConf(key -> bad) {
      val msg = intercept[RuntimeException](read()).getMessage
      assert(msg.contains(key) && msg.contains(s"'$bad'"), s"$key=$bad: $msg")
    }
  }
}
