package graft.tools

import graft.core.{Knobs, Session}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump the formatted physical plan of every bench headline
  * query to PLANS.md in the working directory, so plan shapes are
  * reviewable without running Spark. Run from the checkout root:
  * `sbt "runMain graft.tools.DumpPlans"`. Plans are written through
  * [[mask]], so a regenerated file differs only where a plan did.
  */
object DumpPlans {
  /** `plan` with what varies between runs, or moves with unrelated edits,
    * masked: expression and exchange plan ids (`#123L` → `#_L`,
    * `plan_id=742` → `plan_id=_`), object hash codes (`TopKAgg@4c255e8` →
    * `TopKAgg@_`), and the RDD id and source line of a `localCheckpoint`
    * call site (`[44] at localCheckpoint at DedupOps.scala:577` →
    * `[_] at localCheckpoint at DedupOps.scala:_`).
    */
  def mask(plan: String): String = plan
    .replaceAll("#\\d+", "#_")
    .replaceAll("plan_id=\\d+", "plan_id=_")
    .replaceAll("(\\w)@[0-9a-f]+\\b", "$1@_")
    .replaceAll("\\[\\d+\\] at localCheckpoint at (\\w+\\.scala):\\d+",
      "[_] at localCheckpoint at $1:_")

  def main(args: Array[String]): Unit = {
    val spark = Session.local(appName = "dump-plans")
    spark.conf.set(Knobs.SumsExact.key, "false")
    val dir = "/root/testdata/sf0.1"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the bench headline set\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.1, deployment\n")
    sb.append("arithmetic (`graft.sums.exact=false`), AQE on. Things to see:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for\n")
    sb.append("dims, partial→final `HashAggregate` pairs, `TakeOrderedAndProject`\n")
    sb.append("for top-k, and `WholeStageCodegen` subtree ids.\n")
    def section(title: String, df: DataFrame): Unit = sb.append(s"\n## $title\n\n```\n" +
      mask(df.queryExecution.explainString(FormattedMode)) + "```\n")
    // headline set plus the round-3 operators whose plan SHAPE is the
    // point (map-only quantization, bounded sketch shuffle, aggregation-
    // only funnel, model-join LM scoring, salt-transparent agg)
    val extras = Seq("sim_quantize_int8", "sim_topk_int8_rescore",
      "text_countmin", "text_bigram_lm_score", "evt_funnel",
      "skew_salted_agg",
      // round 5: shuffle-free IVF cell assignment (per-row argmax over the
      // inline centroid literal — no hashpartitioning(vec_id) anywhere)
      "sim_ann_ivf",
      // the banded self-join's callers that have no exact route: one
      // BandPairs node pairs each (tbl, bucket) group
      "sim_ann_lsh", "dedup_simhash_pairs")
    (graft.Bench.headline ++ extras).foreach(name =>
      section(name, graft.SparkEntry.queries(name)(spark, dir)))
    // dedup_minhash_lsh truncates lineage at two lazy localCheckpoints (the
    // candidate pair set and the candidate documents' shingle sets), so its
    // plan above shows `Scan ExistingRDD` where the signature/banding and
    // the set stages ran — dump those subtrees separately.
    val cands = graft.functions.DedupOps.minhashCandidatesPlan(spark, dir)
    section("dedup_minhash_lsh — candidate subtree above the checkpoint boundary", cands)
    section("dedup_minhash_lsh — candidate-set slice above the checkpoint boundary",
      graft.functions.DedupOps.candidateSets(spark, dir, cands))
    // the banded (deployment) routes, iterated from [[graft.Bench.banded]]
    // so this dump can never drift from the set the bench times. Things to
    // see: int8_enc in the scan projection next to lsh_probes; int8_keep in
    // the BandPairs condition, so only survivors reach the pair exchange
    // (a repartition of id pairs — no route runs a pair distinct) and the
    // float verify re-joins (threshold routes); one verify per pair on
    // dedup_embedding_cosine, with both orientations exploded above it;
    // the scored argmax form on sim_nearest_same_label, where nothing
    // pair-proportional exchanges.
    Knobs.withConf(spark, Knobs.SimExact.key -> "false") {
      for (name <- graft.Bench.banded)
        section(s"$name — banded route (graft.sim.exact=false)",
          graft.SparkEntry.queries(name)(spark, dir))
    }
    val out = Paths.get("PLANS.md").toAbsolutePath
    Files.writeString(out, sb.toString)
    println(s"WROTE $out")
    spark.stop()
  }
}
