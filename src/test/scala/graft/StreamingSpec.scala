package graft

import graft.core.Tables
import graft.streaming.EventStreams
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp

/** Structured Streaming semantics: incremental execution must reproduce the
  * batch answers (SURVEY.md §7.4 risk 3), watermarks must drop late data,
  * and the stateful sessionizer must equal the declarative session_window.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-source streaming tumbling counts == batch tumbling counts") {
    val streamed = EventStreams.tumblingCounts(EventStreams.fileSource(spark, sfDir))
    val got = EventStreams.runToMemory(spark, streamed, "t_spec_tumbling")
      .orderBy($"w_start", $"event_type").collect().map(_.toString)
    val want = EventStreams.tumblingCounts(Tables.events(spark, sfDir))
      .orderBy($"w_start", $"event_type").collect().map(_.toString)
    assert(got.sameElements(want))
  }

  private val streamConfs = Seq("spark.sql.artifact.isolation.enabled",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled")

  private def tumblingToMemory(name: String) = EventStreams.runToMemory(spark,
    EventStreams.tumblingCounts(EventStreams.fileSource(spark, sfDir)), name)

  test("repeated runToMemory streams reuse compiled classes; the conf is restored") {
    val before = streamConfs.map(spark.conf.getOption)
    def compilesOf(run: Int): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      tumblingToMemory(s"t_spec_reuse_$run")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val compiles = (1 to 3).map(compilesOf)
    // each stream runs on a fresh session clone; with artifact isolation on
    // for it, every run got a fresh class loader and re-compiled its classes
    assert(compiles(2) == 0L, s"codegen compiles per run: ${compiles.mkString(", ")}")
    assert(streamConfs.map(spark.conf.getOption) == before)

    // start() throws on a name held by an active query: the conf is still
    // restored, and the other query's sink view is left alone
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val holder = mem.toDF().writeStream.format("memory").queryName("t_spec_dup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(1L, 2L); holder.processAllAvailable()
      intercept[IllegalArgumentException](tumblingToMemory("t_spec_dup"))
      assert(streamConfs.map(spark.conf.getOption) == before)
      assert(spark.table("t_spec_dup").count() == 2L)
    } finally holder.stop()
  }

  test("runToMemory writes checksum sidecars only to a durable checkpoint") {
    // with spark.sql.streaming.checkpointLocation set, a stream checkpoints
    // to <location>/<query name> and the directory outlives the query, so
    // Spark's own setting stands
    val root = java.nio.file.Files.createTempDirectory("graft_cp_sums")
    // Spark's sidecar is <file>.crc; Hadoop's local file system writes its
    // own .<file>.crc beside every file regardless of the setting
    def sidecars(name: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root.resolve(name))
      try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".crc") && !f.startsWith(".")).toList
      finally walk.close()
    }
    try withConf("spark.sql.streaming.checkpointLocation" -> root.toString) {
      tumblingToMemory("t_spec_sums_durable")
      assert(sidecars("t_spec_sums_durable").nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    // without one the checkpoint is temporary, and the stream runs with the
    // sidecars off: its tasks read the conf its session clone started with
    val key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val before = spark.conf.getOption(key)
    val seen = udf(() => org.apache.spark.sql.internal.SQLConf.get.getConfString(key, "unset"))
      .asNondeterministic()
    val got = EventStreams.runToMemory(spark,
      EventStreams.fileSource(spark, sfDir).groupBy(seen().as("v")).count(), "t_spec_sums_temp")
    assert(got.collect().map(_.getString(0)).toSeq == Seq("false"))
    assert(spark.conf.getOption(key) == before)
  }

  test("file-source streaming sliding counts == batch sliding counts") {
    val got = graft.streaming.StreamQueries.streamSliding(spark, sfDir)
      .collect().map(_.toString)
    val want = graft.operators.Events.sliding(spark, sfDir)
      .collect().map(_.toString)
    assert(got.sameElements(want))
  }

  test("streaming gap-fill (windowed agg + sink spine join) == batch gap-fill") {
    val got = graft.streaming.StreamQueries.streamGapfill(spark, sfDir)
      .collect().map(_.toString)
    val want = graft.operators.Events.gapfill(spark, sfDir)
      .collect().map(_.toString)
    assert(got.sameElements(want))
    // the spine actually filled something: zero-count windows exist
    assert(got.exists(_.contains(",0]")), "expected at least one zero-filled window")
  }

  test("MemoryStream incremental aggregation converges to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamed = EventStreams.tumblingCounts(
      mem.toDF().toDF("event_id", "ts", "event_type", "value"))
    val q = streamed.writeStream.format("memory").queryName("t_spec_mem")
      .outputMode(OutputMode.Complete()).start()
    val rows = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"event_type", $"value")
      .orderBy($"ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
    // three micro-batches in event-time order
    rows.grouped((rows.length + 2) / 3).foreach { chunk =>
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_spec_mem")
      .orderBy($"w_start", $"event_type").collect().map(_.toString)
    val want = EventStreams.tumblingCounts(Tables.events(spark, sfDir))
      .orderBy($"w_start", $"event_type").collect().map(_.toString)
    assert(got.sameElements(want))
  }

  test("crash guard works inside a streaming query (bad records skip, stream survives)") {
    // SkipBadRecords semantics under Structured Streaming: the guard is a
    // plain expression, so a throwing record lands in the side channel and
    // the micro-batch completes instead of failing the query
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val g = graft.operators.CrashGuard.guarded((s: String) => s.toLong)
    val q = mem.toDF().toDF("s")
      .select(g($"s").as("g"))
      .groupBy()
      .agg(
        count(when($"g._2".isNull, lit(1))).as("ok"),
        count($"g._2").as("skipped"))
      .writeStream.format("memory").queryName("t_spec_guard")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData("1", "nope", "2"); q.processAllAvailable()
      mem.addData("boom", "3"); q.processAllAvailable()
    } finally q.stop()
    val r = spark.table("t_spec_guard").head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 2,
      s"expected 3 ok / 2 skipped, got ${r.getLong(0)}/${r.getLong(1)}")
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val streamed = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = streamed.writeStream.format("memory").queryName("t_spec_late")
      .outputMode(OutputMode.Append()).start()
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((ts(0), "a"), (ts(5), "a")); q.processAllAvailable()
    // advance watermark far past the first window
    mem.addData((ts(40), "a")); q.processAllAvailable()
    // late arrival into the long-closed first window: must be dropped
    mem.addData((ts(1), "late")); q.processAllAvailable()
    mem.addData((ts(59), "a")); q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_spec_late").collect()
    assert(!rows.exists(_.getString(1) == "late"),
      s"late row leaked: ${rows.mkString(";")}")
    // the closed first window was emitted with only the on-time rows
    assert(rows.exists(r => r.getString(1) == "a" && r.getLong(2) == 2))
  }

  test("flatMapGroupsWithState sessionizer (streaming) == batch session_window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Ev]
    val sessions = EventStreams.sessionize(
      mem.toDS().withWatermark("ts", "1 hour").as[EventStreams.Ev])
    val q = sessions.toDF().writeStream.format("memory").queryName("t_spec_sess")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0)).start()
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"value").orderBy($"ts")
      .as[EventStreams.Ev].collect()
    evs.grouped((evs.length + 3) / 4).foreach { chunk =>
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    // push watermark past everything so open sessions time out and flush:
    // one sentinel far in the future per user would distort sessions; instead
    // use a single dummy user with a late timestamp
    val flushTs = new Timestamp(evs.map(_.ts.getTime).max + 100L * 60 * 60 * 1000)
    mem.addData(EventStreams.Ev(-1L, flushTs, 0.0)); q.processAllAvailable()
    q.stop()
    val got = spark.table("t_spec_sess")
      .filter($"user_id" >= 0)
      .select($"user_id", $"session_start", $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start").collect().map(_.toString)
    val want = graft.streaming.StreamQueries.sessionizeFmgws(spark, sfDir)
      .select($"user_id", $"session_start", $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start").collect().map(_.toString)
    assert(got.sameElements(want))
  }

  test("flatMapGroupsWithState funnel (streaming) == batch funnel") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.FEv]
    val out = EventStreams.funnelStateful(mem.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("t_spec_funnel")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0)).start()
    // in-order delivery (the documented funnel assumption): ts-sorted chunks,
    // same-ts ties in funnel-step order so a chunk boundary cannot deliver a
    // click/purchase in an earlier micro-batch than its same-instant view
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_type")
      .orderBy($"ts", when($"event_type" === "view", 0)
        .when($"event_type" === "click", 1).otherwise(2))
      .as[EventStreams.FEv].collect()
    evs.grouped((evs.length + 3) / 4).foreach { chunk =>
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    // funnel state is monotone and only emits on change, so each user's
    // final row is their max-steps emission
    val got = spark.table("t_spec_funnel")
      .groupBy($"user_id")
      .agg(max_by(struct($"t_view", $"t_click", $"t_purchase", $"steps_completed"),
        $"steps_completed").as("b"))
      .select($"user_id", $"b.t_view", $"b.t_click", $"b.t_purchase", $"b.steps_completed")
      .orderBy($"user_id").collect().map(_.toString)
    val want = graft.streaming.StreamQueries.funnelFmgws(spark, sfDir)
      .orderBy($"user_id").collect().map(_.toString)
    assert(got.sameElements(want))
    // and the state machine's batch face must equal the relational funnel
    val relational = graft.operators.Events.funnel(spark, sfDir)
      .collect().map(_.toString)
    assert(want.sameElements(relational))
  }

  test("funnel completes when a step arrives a micro-batch before its predecessor") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.FEv]
    val out = EventStreams.funnelStateful(mem.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("t_spec_funnel_ooo")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0)).start()
    def ts(m: Long) = new Timestamp(m * 60000L)
    // batch 1: the click (and a purchase) land BEFORE the view is delivered
    mem.addData(Seq(
      EventStreams.FEv(7L, ts(20), "click"),
      EventStreams.FEv(7L, ts(30), "purchase")))
    q.processAllAvailable()
    // batch 2: the view arrives late, with an earlier timestamp
    mem.addData(Seq(EventStreams.FEv(7L, ts(10), "view")))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("t_spec_funnel_ooo")
      .orderBy($"steps_completed".desc).limit(1)
      .select($"t_view", $"t_click", $"t_purchase", $"steps_completed")
      .collect().head
    assert(last.getInt(3) == 3, s"pending steps should resolve on late view: $last")
    assert(last.getTimestamp(0) == ts(10) && last.getTimestamp(1) == ts(20) &&
      last.getTimestamp(2) == ts(30))
  }

  test("checkpointed file sink is exactly-once across restarts") {
    val out = "/tmp/graft_stream/sink"
    val cp = "/tmp/graft_stream/cp"
    Seq(out, cp).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    def runOnce(): Unit = {
      val q = EventStreams.fileSource(spark, sfDir)
        .select($"event_id", $"ts", $"event_type")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    runOnce() // restart from checkpoint: source exhausted, nothing re-emitted
    val sunk = spark.read.parquet(out)
    val want = Tables.events(spark, sfDir).count()
    assert(sunk.count() == want, "restart must not duplicate rows")
    assert(sunk.select($"event_id").distinct().count() == want)
  }

  test("stream-stream interval join (attribution) == batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val schema = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"value", $"event_type")
    val rows = schema.orderBy($"ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3), r.getString(4)))
    val memV = MemoryStream[(Long, Timestamp, Long, Double, String)]
    val memP = MemoryStream[(Long, Timestamp, Long, Double, String)]
    def shape(m: MemoryStream[(Long, Timestamp, Long, Double, String)]) =
      m.toDF().toDF("user_id", "ts", "event_id", "value", "event_type")
    val joined = EventStreams.attributionJoin(shape(memV), shape(memP))
    val q = joined.writeStream.format("memory").queryName("t_spec_ssj")
      .outputMode(OutputMode.Append()).start()
    // feed both sides in event-time order across several micro-batches
    rows.grouped((rows.length + 3) / 4).foreach { chunk =>
      memV.addData(chunk.filter(_._5 == "view").toSeq)
      memP.addData(chunk.filter(_._5 == "purchase").toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_spec_ssj")
      .select($"purchase_id", $"view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.operators.Events.attribution(spark, sfDir)
      .select($"purchase_id", $"view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "attribution join must produce pairs on test data")
    assert(got == want, s"missing=${want -- got} spurious=${got -- want}")
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val dedup = EventStreams.dedupWithinWatermark(
      mem.toDF().toDF("event_id", "ts"))
    val q = dedup.writeStream.format("memory").queryName("t_spec_dedup")
      .outputMode(OutputMode.Append()).start()
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((1L, ts(0)), (2L, ts(1))); q.processAllAvailable()
    mem.addData((1L, ts(2)), (3L, ts(3))); q.processAllAvailable() // dup id 1
    q.stop()
    val ids = spark.table("t_spec_dedup").select($"event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }
}
