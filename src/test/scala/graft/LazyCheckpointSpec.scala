package graft

import graft.core.Tables
import graft.functions.DedupOps

/** The lazy `localCheckpoint`s on the MinHash route (the candidate pair set
  * in `minhashCandidates`, the verify slice `shN` in `jaccardStats`)
  * compute their upstream ONCE per action: the first consumer materializes
  * the blocks, every later consumer reads them. Each lost guarantee shows
  * as a repeated stage: the signature/band map stage, the slice scan, or
  * the slice's per-document window.
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
        // two corpus scans: signatures, and the candidate slice's shingles
        assert(stages.count(isScan) == 2, show)
        // the band stream is NumBands rows per document
        val bandRows = DedupOps.NumBands * Tables.documents(spark, sfDir).count()
        assert(stages.count(s => isScan(s) &&
          s.taskMetrics.shuffleWriteMetrics.recordsWritten == bandRows) == 1, show)
        // the slice window reads its exchange once; the second join leg
        // reads the checkpointed blocks instead
        assert(stages.count(s => s.rddInfos.exists(_.scope.exists(_.name == "Window")) &&
          s.taskMetrics.shuffleReadMetrics.recordsRead > 0) == 1, show)
      } finally spark.conf.unset("graft.sim.exact")
    }
}
