package graft.tools

import graft.core.Session
import java.nio.file.{Files, Paths}

/** Dev tool: dump the formatted physical plan of every bench headline
  * query to PLANS.md in the working directory, so plan shapes are
  * reviewable without running Spark. Run from the checkout root:
  * `sbt "runMain graft.tools.DumpPlans"`.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(appName = "dump-plans")
    spark.conf.set("graft.sums.exact", "false")
    val dir = "/root/testdata/sf0.1"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the bench headline set\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.1, deployment\n")
    sb.append("arithmetic (`graft.sums.exact=false`), AQE on. Things to see:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for\n")
    sb.append("dims, partial→final `HashAggregate` pairs, `TakeOrderedAndProject`\n")
    sb.append("for top-k, and `WholeStageCodegen` subtree ids.\n")
    // headline set plus the round-3 operators whose plan SHAPE is the
    // point (map-only quantization, bounded sketch shuffle, aggregation-
    // only funnel, model-join LM scoring, salt-transparent agg)
    val extras = Seq("sim_quantize_int8", "sim_topk_int8_rescore",
      "text_countmin", "text_bigram_lm_score", "evt_funnel",
      "skew_salted_agg",
      // round 5: shuffle-free IVF cell assignment (per-row argmax over the
      // inline centroid literal — no hashpartitioning(vec_id) anywhere)
      "sim_ann_ivf")
    (graft.Bench.headline ++ extras).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    // dedup_minhash_lsh truncates lineage at an eager localCheckpoint (the
    // candidate pair set), so its plan above shows `Scan ExistingRDD` where
    // the signature/banding stages ran — dump that subtree separately.
    val candPlan = graft.functions.DedupOps.minhashCandidatesPlan(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    sb.append(s"\n## dedup_minhash_lsh — candidate subtree above the checkpoint boundary\n\n```\n$candPlan```\n")
    // the banded (deployment) routes, iterated from [[graft.Bench.banded]]
    // so this dump can never drift from the set the bench times (round 21
    // — previously 3 of the 4 were hardcoded and dedup_ngram_jaccard's
    // banded plan never landed here). Things to see: int8_enc in the scan
    // projection next to lsh_buckets, int8_keep filtering the self-join
    // output BEFORE the pair-distinct exchange, the float verify joining
    // only survivors (threshold routes); the scored no-distinct argmax
    // form on sim_nearest_same_label (round 10) — nothing
    // pair-proportional exchanges.
    spark.conf.set("graft.sim.exact", "false")
    for (name <- graft.Bench.banded) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name — banded route (graft.sim.exact=false)\n\n```\n$plan```\n")
    }
    spark.conf.unset("graft.sim.exact")
    val out = Paths.get("PLANS.md").toAbsolutePath
    Files.writeString(out, sb.toString)
    println(s"WROTE $out")
    spark.stop()
  }
}
