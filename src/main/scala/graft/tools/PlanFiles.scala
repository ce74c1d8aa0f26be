package graft.tools

import graft.core.Session
import java.nio.file.{Files, Paths}

/** Dev tool (round 21): write each bench query's `.explain("formatted")`
  * output to its own file — the optimization round's before/after plan
  * evidence (`plans/r21/<query>_<suffix>.txt`).
  *
  * {{{
  * sbt "runMain graft.tools.PlanFiles <outDir> <suffix> [query...]"
  * }}}
  *
  * With no query names, dumps the full bench set: the headline block under
  * gate similarity (exact) + deployment sums, and [[graft.Bench.banded]]
  * under `graft.sim.exact=false` — the exact configurations the bench
  * times. `dedup_minhash_lsh` additionally dumps its candidate subtree
  * (the eager localCheckpoint truncates the main plan at `Scan
  * ExistingRDD`, hiding the signature/banding stages).
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanFiles <outDir> <suffix> [query...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val spark = Session.local(appName = "plan-files")
    spark.conf.set("graft.sums.exact", "false")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def dump(name: String, fileStem: String): Unit = {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${fileStem}_$suffix.txt"), plan)
      println(s"WROTE $outDir/${fileStem}_$suffix.txt")
    }

    val (headline, banded) =
      if (args.length > 2) {
        val named = args.drop(2).toSeq
        (named.filterNot(graft.Bench.banded.contains), named.filter(graft.Bench.banded.contains))
      } else (graft.Bench.headline, graft.Bench.banded)

    headline.foreach { n => dump(n, n) }
    if (headline.contains("dedup_connected_components")) {
      // the star-contraction loop runs during query CONSTRUCTION, so the
      // declared query's explain shows only the closing labels join — dump
      // one round's physical plan over the real candidate edge frame too
      import org.apache.spark.sql.functions._
      val pairs = graft.functions.DedupOps.ngramJaccard(spark, dir).select(col("d1"), col("d2"))
      val edges = pairs
        .select(least(col("d1"), col("d2")).as("lo"), greatest(col("d1"), col("d2")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct().localCheckpoint()
      val plan = graft.functions.DedupOps.contractionRound(edges)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"dedup_connected_components_round_$suffix.txt"), plan)
      println(s"WROTE $outDir/dedup_connected_components_round_$suffix.txt")
    }
    if (headline.contains("dedup_minhash_lsh")) {
      val plan = graft.functions.DedupOps.minhashCandidatesPlan(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"dedup_minhash_lsh_candidates_$suffix.txt"), plan)
      println(s"WROTE $outDir/dedup_minhash_lsh_candidates_$suffix.txt")
    }
    spark.conf.set("graft.sim.exact", "false")
    banded.foreach { n => dump(n, n) }
    spark.conf.unset("graft.sim.exact")
    spark.stop()
  }
}
