package graft

import graft.core.Tables
import graft.functions.DedupOps

/** The lazy `localCheckpoint`s on the MinHash route (the candidate pair set
  * in `minhashCandidates`, the per-document shingle sets in `jaccardStats`)
  * compute their upstream ONCE per action: the first consumer materializes
  * the blocks, every later consumer reads them. Each lost guarantee shows
  * as a repeated stage: the signature/band map stage or the slice's set
  * stage.
  */
class LazyCheckpointSpec extends SparkSpec {

  private def isScan(s: org.apache.spark.scheduler.StageInfo) =
    s.rddInfos.exists(_.name == "FileScanRDD")

  for ((name, exact) <- Seq("dedup_minhash_lsh" -> "true", "dedup_ngram_jaccard" -> "false"))
    test(s"$name: signature/band stage and verify slice each run once per action") {
      spark.conf.set("graft.sim.exact", exact)
      try {
        // construction inside the window: under AQE, a lazy checkpoint's
        // shuffle stages already run when its frame is built
        val stages = stagesOf(graft.SparkEntry.queries(name)(spark, sfDir).collect())
        def show = stages.map(s => (s.stageId, s.numTasks, isScan(s),
          s.taskMetrics.inputMetrics.recordsRead,
          s.taskMetrics.shuffleReadMetrics.recordsRead,
          s.taskMetrics.shuffleWriteMetrics.recordsWritten)).mkString("\n")
        // two corpus scans: signatures, and the candidate slice's sets
        assert(stages.count(isScan) == 2, show)
        // the band stream is one row per band per document
        val bandRows = graft.core.Knobs.MinHash.tables * Tables.documents(spark, sfDir).count()
        assert(stages.count(s => isScan(s) &&
          s.taskMetrics.shuffleWriteMetrics.recordsWritten == bandRows) == 1, show)
        // the slice's set stage reads documents once; the second join leg
        // reads the checkpointed sets instead
        val docs = Tables.documents(spark, sfDir).count()
        assert(stages.count(s => isScan(s) &&
          s.taskMetrics.shuffleWriteMetrics.recordsWritten != bandRows &&
          s.taskMetrics.inputMetrics.recordsRead == docs) == 1, show)
      } finally spark.conf.unset("graft.sim.exact")
    }
}
