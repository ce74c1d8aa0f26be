package graft.streaming

import graft.core.Knobs
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.sql.Timestamp

/** Structured Streaming pack (SURVEY.md §2.9, §7.2 step 7).
  *
  * The reference's "realtime" surface (HDFS append/hflush for tailing,
  * namespace-notifier change events) maps to Structured Streaming's file
  * source: new files under a directory become micro-batches. The transforms
  * here are the SAME `window()`/`session_window` expressions the batch pack
  * ([[graft.operators.Events]]) runs — one definition, two execution modes —
  * plus the streaming-only pieces: watermarks (late-data bound = bounded
  * state at 100 TB/day rates), dropDuplicatesWithinWatermark (at-least-once
  * source dedup), and flatMapGroupsWithState sessionization (custom state
  * machine with event-time timeout).
  */
object EventStreams {

  /** Raw events as a stream from parquet files. The stored `ts` physical
    * type has drifted across testdata regenerations (ns-long through r7,
    * TIMESTAMP(MICROS) from r8) — normalize with the SAME dtype dispatch as
    * the batch loader ([[graft.core.Tables.normalizeTs]]) so the two faces
    * can never disagree.
    */
  def fileSource(spark: SparkSession, dir: String): DataFrame = {
    // through Tables.load, not a bare spark.read.parquet (round 22): the
    // bare read ran a footer schema-inference JOB per stream construction —
    // the one query family the round-21 session schema cache didn't reach.
    // Same schema either way (load's cache holds the inferred StructType).
    val batchSchema = graft.core.Tables.load(spark, dir, "events").schema
    spark.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", "1")
      // the file source wants a directory; select just the events file
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", graft.core.Tables.normalizeTs(batchSchema("ts").dataType))
  }

  /** Tumbling 10-minute counts with a 20-minute watermark — works on a
    * streaming OR batch DataFrame (watermark is a no-op in batch).
    */
  def tumblingCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.QueryPack.decSum(events.sparkSession)($"value").as("sum_value"))
      .select($"w.start".as("w_start"), $"w.end".as("w_end"), $"event_type", $"n", $"sum_value")
  }

  /** Sliding 10-minute/5-minute counts — the streaming face of
    * [[graft.operators.Events.sliding]] (each event lands in exactly two
    * windows; state is two window rows per live slot, watermark-bounded).
    * Same definition runs in batch (watermark is a no-op there).
    */
  def slidingCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"w.end".as("w_end"), $"n")
  }

  /** Window-only tumbling counts — the incremental half of the streaming
    * gap-fill ([[graft.streaming.StreamQueries.streamGapfill]]): the event
    * stream reduces to one row per non-empty 10-minute window; the zero-fill
    * spine join happens at read time over the bounded sink, because the
    * spine needs corpus min/max which a stream only has once bounded.
    */
  def windowOnlyCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"n")
  }

  /** At-least-once source dedup by event id, state bounded by watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "20 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  case class Ev(user_id: Long, ts: Timestamp, value: Double)
  // sum held in cents (test values are 2-decimal): exact, order-independent
  // accumulation that matches a decimal-exact oracle bit-for-bit.
  case class SessionState(start: Long, last: Long, n: Long, sumCents: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, sum_value: Double)

  val GapMs: Long = 30 * 60 * 1000
  private val GapUs: Long = GapMs * 1000

  /** Full-microsecond epoch (Timestamp.getTime alone truncates to ms). */
  private def usOf(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset state-machine path (what session_window compiles
    * to, but with user-defined state so arbitrary per-session logic fits).
    * Event-time timeout closes a session once the watermark passes
    * last + gap. In batch mode Spark invokes the function once per group
    * with all events (values unsorted — sorted here), emitting all sessions:
    * identical output to the batch session_window query, which is how
    * StreamingSpec cross-checks it.
    */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // evaluate on the driver — referencing the Dataset inside the state
    // function would capture it into executor closures
    val streaming = events.isStreaming
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil).map(toOut(user, _))
            state.remove()
            out.iterator
          } else {
            var open = state.getOption.getOrElse(Nil)
            var closed = List.empty[SessionState]
            rows.toSeq.sortBy(e => (usOf(e.ts), e.value)).foreach { e =>
              val t = usOf(e.ts)
              val cents = math.round(e.value * 100)
              open match {
                case s :: rest if t - s.last < GapUs =>
                  open = s.copy(last = t, n = s.n + 1, sumCents = s.sumCents + cents) :: rest
                case _ =>
                  closed = closed ::: open // previous sessions are done
                  open = List(SessionState(t, t, 1, cents))
              }
            }
            if (state.exists || open.nonEmpty) {
              // streaming: keep the open session in state until timeout
              if (streaming) {
                state.update(open)
                open.headOption.foreach(s =>
                  state.setTimeoutTimestamp(s.last / 1000 + GapMs))
                closed.map(toOut(user, _)).iterator
              } else {
                // batch: single invocation sees everything — emit all
                (closed ::: open).map(toOut(user, _)).iterator
              }
            } else Iterator.empty
          }
      }
  }

  private def toOut(user: Long, s: SessionState): SessionOut =
    SessionOut(user, tsOf(s.start), tsOf(s.last + GapUs), s.n, s.sumCents / 100.0)

  case class FEv(user_id: Long, ts: Timestamp, event_type: String)
  /** Funnel progress per user, step timestamps in epoch-μs (set-once,
    * monotone: a step only ever fills in, never changes). `pc`/`pp` hold
    * the EARLIEST click/purchase seen while its predecessor slot was still
    * empty — five longs per user, still bounded by user population.
    *
    * STATE-SCHEMA NOTE: `pc`/`pp` grew this record from 3 to 5 fields; a
    * streaming query restarted from a checkpoint written by the 3-field
    * encoder will fail state deserialization. Fresh test checkpoints are
    * unaffected, but a persisted deployment upgrading across this change
    * must start a new checkpoint location (standard Spark stateful-schema
    * evolution constraint). */
  case class FunnelState(v: Option[Long], c: Option[Long], p: Option[Long],
      pc: Option[Long] = None, pp: Option[Long] = None)
  case class FunnelOut(user_id: Long, t_view: Timestamp,
      t_click: Option[Timestamp], t_purchase: Option[Timestamp],
      steps_completed: Int)

  private val FunnelRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)

  /** The [[graft.operators.Events.funnel]] conversion query as a stateful
    * stream: one tiny set-once state record per user, updated by a fold
    * over (ts, step)-sorted events — step N's slot fills with the first
    * event at-or-after step N-1's slot, which on sorted input is exactly
    * the chained-conditional-min semantics of the batch query (ties at the
    * same timestamp resolve view→click→purchase, matching the batch >=).
    * Emits the user's funnel row whenever it changes (Append mode, no
    * timeout: funnel state is 5 longs per user — bounded by the user
    * population, not the event rate).
    *
    * Cross-batch ordering: a later step arriving in an EARLIER micro-batch
    * than its predecessor is remembered as a pending timestamp (`pc`/`pp`
    * hold the earliest such click/purchase) and consumed once the
    * predecessor fills — so the common out-of-order case (one step's event
    * delivered a batch early) still completes the funnel instead of
    * silently dropping it. Residual divergence from the batch answer: only
    * the EARLIEST pending event is retained, so if a user's first click
    * precedes their first view but a later click would have qualified,
    * streaming misses that later click (full equivalence under arbitrary
    * reordering needs every step timestamp — unbounded state; buffer
    * behind a watermark for that). In batch mode the single invocation
    * sees all events sorted — identical output to the relational funnel,
    * which is how the gate (same oracle) and StreamingSpec hold the two
    * faces together.
    */
  def funnelStateful(events: Dataset[FEv]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FEv], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(None, None, None))
          var s = prev
          def pendMin(cur: Option[Long], t: Long) = Some(cur.fold(t)(math.min(_, t)))
          rows.toSeq
            .filter(e => FunnelRank.contains(e.event_type))
            .sortBy(e => (usOf(e.ts), FunnelRank(e.event_type)))
            .foreach { e =>
              val t = usOf(e.ts)
              e.event_type match {
                case "view" if s.v.isEmpty => s = s.copy(v = Some(t))
                case "click" if s.c.isEmpty =>
                  // >= guard keeps the chained-min semantics explicit even
                  // when a click lands in a batch after an out-of-order view
                  if (s.v.exists(_ <= t)) s = s.copy(c = Some(t))
                  else s = s.copy(pc = pendMin(s.pc, t))
                case "purchase" if s.p.isEmpty =>
                  if (s.c.exists(_ <= t)) s = s.copy(p = Some(t))
                  else s = s.copy(pp = pendMin(s.pp, t))
                case _ => // step already reached
              }
            }
          // late-predecessor resolution: a pending step fills once its
          // predecessor is set (c before p, so a click unlocked this batch
          // can immediately unlock a pending purchase)
          if (s.v.isDefined && s.c.isEmpty && s.pc.exists(_ >= s.v.get))
            s = s.copy(c = s.pc, pc = None)
          if (s.c.isDefined && s.p.isEmpty && s.pp.exists(_ >= s.c.get))
            s = s.copy(p = s.pp, pp = None)
          if (s != prev) state.update(s) // persist pending even when hidden
          val visibleChanged =
            (s.v, s.c, s.p) != (prev.v, prev.c, prev.p)
          if (streaming && !visibleChanged) Iterator.empty
          else s.v match {
            case Some(tv) => Iterator.single(FunnelOut(user, tsOf(tv),
              s.c.map(tsOf), s.p.map(tsOf), 1 + s.c.size + s.p.size))
            case None => Iterator.empty // no view yet: user not in funnel
          }
      }
  }

  /** Stream-stream interval join (attribution): each purchase joined to
    * every view by the same user in the preceding 30 minutes. Watermarks on
    * BOTH sides plus the time-bound join condition let Spark expire join
    * state — without them a stream-stream join buffers forever; with them
    * state is bounded by (watermark + interval), which is what makes this
    * viable at 100 TB/day event rates. The same definition runs in batch
    * (watermarks are no-ops) — `evt_attribution`'s oracle checks it.
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    import views.sparkSession.implicits._
    val v = views
      .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("view_id"))
      .withWatermark("v_ts", "30 minutes")
    val p = purchases
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("purchase_id"), $"value")
      .withWatermark("p_ts", "30 minutes")
    v.join(p, expr(
      "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 30 MINUTES"))
      .select($"p_user".as("user_id"), $"purchase_id", $"view_id",
        $"v_ts", $"p_ts", $"value")
  }

  /** Run a streaming query to completion over the (finite) file source and
    * return the materialized result — real incremental execution, memory
    * sink, AvailableNow trigger.
    *
    * Two settings are overridden, and only across `start()`: that is where
    * `StreamExecution` clones the session, and the clone keeps the conf it
    * was cloned with for the whole run. Both are restored on return, also
    * when `start()` throws, and a lock serializes the window so that
    * overlapping calls cannot save each other's temporary values.
    *
    *  - `spark.sql.artifact.isolation.enabled=false`. Each clone gets a
    *    fresh session UUID; with isolation on, its jobs run under a fresh
    *    `JobArtifactState` and so a fresh executor class loader, and Spark's
    *    codegen cache (keyed by class loader and source) misses on every
    *    run: `stream_tumbling` compiled, loaded and re-JITted 14 classes
    *    whose source equalled the previous run's. With isolation off the
    *    stream's jobs run under the default artifact state, like every
    *    batch query of the session, and reuse the compiled classes. The
    *    engine adds no session-scoped artifacts, so isolation has nothing to
    *    isolate here. A session that carries session-scoped jars or files
    *    (Spark Connect) must not use this helper: its stream would not see
    *    them.
    *  - `spark.sql.streaming.checkpoint.fileChecksum.enabled`, from
    *    `graft.stream.checkpoint.checksum` (default false). Spark 4.1's
    *    ChecksumCheckpointFileManager writes a sidecar per checkpoint file
    *    and every state-store commit blocks on that async write (thread
    *    dumps: tasks parked in `ChecksumCancellableFSDataOutputStream.close`
    *    → awaitResult). Re-measured once the runs reused their classes
    *    (SCALE.md "The checkpoint-checksum decision, re-measured"; sf0.1,
    *    4 cores, so 4 state-store
    *    partitions; two warm runs a side): turning the sidecars off cuts
    *    the stateful stage's summed executor time by 30–35% on all three
    *    witnesses (tumbling 2.18 → 1.47 s over the two runs), while the
    *    whole-query walls moved within run-to-run noise (tumbling
    *    1.19–1.47 s on, 1.11–1.48 s off). The default stays off: the
    *    sidecars cost executor time and protect nothing here. They detect
    *    corruption of DURABLE checkpoints across restarts; these witnesses
    *    run on TEMPORARY checkpoint dirs deleted when the query ends. On
    *    HDFS the filesystem already checksums every block; set the dial to
    *    true where the checkpoint is durable and the store doesn't
    *    checksum.
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val overrides = Seq(
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
        Knobs.StreamCheckpointChecksum(spark).toString)
    var started: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      started = startLock.synchronized {
        Knobs.withConf(spark, overrides: _*) {
          streamed.writeStream
            .format("memory").queryName(name).outputMode(mode)
            .trigger(Trigger.AvailableNow())
            .start()
        }
      }
      started.awaitTermination()
    } catch { case e: Throwable =>
      // a mid-run failure must not leak the uniquely-named sink view (or
      // a still-registered query) per invocation — the unbounded catalog
      // growth the dropTempView below exists to prevent. The memory sink
      // registers its view only once start() returns, so a start() that
      // threw left no view of ours; a view by that name belongs to another
      // query (e.g. an active one holding the same name) and stays.
      if (started != null) {
        try started.stop() catch { case scala.util.control.NonFatal(_) => () }
        try spark.catalog.dropTempView(name)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      throw e
    }
    // Dataset analysis is eager, so the resolved memory-sink plan survives
    // dropping the temp view; dropping bounds catalog/driver growth when a
    // timing run re-invokes the same streaming query many times per session
    // (each invocation registers a fresh uniquely-named sink view).
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    out
  }

  /** Serializes [[runToMemory]]'s conf window across threads and sessions. */
  private val startLock = new Object
}
