package graft.tools

import graft.core.Session
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.lang.management.ManagementFactory

/** Round-22 measurement tool: A/B the streaming witnesses against the
  * checkpoint-file-checksum dial (`graft.stream.checkpoint.checksum`).
  *
  * Spark 4.1's ChecksumCheckpointFileManager writes a checksum sidecar per
  * checkpoint file, and every state-store commit blocks on that async
  * write (thread dumps: tasks parked in ChecksumCancellableFSDataOutputStream
  * .close → awaitResult). This tool prints, for each dial value, per-run
  * walls, the codegen compiles and classes loaded during the run, and the
  * multi-task stages' task/run decomposition, so the decision in
  * [[graft.streaming.EventStreams.runToMemory]] stays re-measurable. The
  * compile and class counts show whether a run reused the classes of the
  * runs before it, which the walls depend on as much as on the dial.
  *
  * {{{ sbt "runMain graft.tools.StreamProbe [query ...]" }}}
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(appName = "stream-probe")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).count() // session warm
    val classLoading = ManagementFactory.getClassLoadingMXBean
    val names = if (args.nonEmpty) args.toSeq
      else Seq("stream_tumbling", "stream_sliding", "stream_gapfill")
    // three rounds, alternating which value runs first (the JVM warms as
    // the rounds go); the first run of a query compiles its classes, so
    // round 1 is not part of the A/B
    for (name <- names; rep <- 1 to 3;
         checksum <- if (rep % 2 == 1) Seq("true", "false") else Seq("false", "true")) {
      spark.conf.set("graft.stream.checkpoint.checksum", checksum)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          if (si.numTasks < 2) return // fixed-overhead stages: not the A/B's object
          val wall = (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(-1L)
          stages.add(f"  stage ${si.stageId}%3d ${si.numTasks}%4d tasks " +
            f"wall=${wall / 1e3}%6.3fs run=${si.taskMetrics.executorRunTime / 1e3}%7.3fs")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val classes0 = classLoading.getTotalLoadedClassCount
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val classes = classLoading.getTotalLoadedClassCount - classes0
      // deterministic drain, not a sleep (review r22 #2): a loaded bus can
      // hold a backlog past any fixed wait and silently drop stage lines
      // from the A/B output — same rule as profile-stages
      BusDrain.drain(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"STREAM $name rep=$rep checksum=$checksum wall=$wall%.3fs " +
        s"compiles=$compiles classes_loaded=$classes")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sorted.foreach(println)
    }
    spark.conf.unset("graft.stream.checkpoint.checksum")
    spark.stop()
  }
}
