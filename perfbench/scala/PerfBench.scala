package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM side of the benchmark: one closed-loop client that runs a workload's
  * query mix pass after pass on one SparkSession and writes a JSON record.
  *
  * Usage: `perfbench.PerfBench <plan.properties> <record.json>`. The plan is
  * written by `perfbench/run.py`; it names the data directory, the query
  * mix, the per-pass query orders (shuffled from the seed), the session
  * settings and the pass counts. Every layer is observed from outside:
  * wall clocks around the calls into `graft.SparkEntry` and `graft.core`,
  * Spark's public listener APIs, `CodegenMetrics` and the JVM's MXBeans.
  * No engine code is instrumented.
  */
object PerfBench {

  // ---- plan -------------------------------------------------------------

  final case class Plan(props: Map[String, String]) {
    def str(k: String): String = props.getOrElse(k, sys.error(s"plan is missing '$k'"))
    def int(k: String): Int = str(k).toInt
    def list(k: String): Seq[String] = props.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def confs: Seq[(String, String)] =
      props.toSeq.collect { case (k, v) if k.startsWith("conf.") => k.stripPrefix("conf.") -> v }.sortBy(_._1)
    /** Pass orders: line i of `orders` is the query order of pass i. */
    def orders: IndexedSeq[Seq[Int]] = str("orders").split(";").toIndexedSeq.map(_.split(" ").toSeq.map(_.toInt))
  }

  def readPlan(p: Path): Plan = {
    val pr = new java.util.Properties()
    val in = Files.newBufferedReader(p)
    try pr.load(in) finally in.close()
    Plan(pr.asScala.toMap)
  }

  // ---- clocks -------------------------------------------------------------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean
  private val clBean = ManagementFactory.getClassLoadingMXBean
  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def epochSeconds: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** JVM-wide counters read at pass boundaries (all runs, traced or not). */
  final case class Counters(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long, classes: Long,
      compiles: Long, compileMeanMs: Double) {
    def -(o: Counters): Map[String, Double] = Map(
      "wall_s" -> (wallNs - o.wallNs) / 1e9,
      "cpu_s" -> (cpuNs - o.cpuNs) / 1e9,
      "jit_s" -> (jitMs - o.jitMs) / 1e3,
      "gc_s" -> (gcMs - o.gcMs) / 1e3,
      "classes_loaded" -> (classes - o.classes).toDouble,
      "codegen_compiles" -> (compiles - o.compiles).toDouble,
      // CodegenMetrics keeps compile times in a sampling histogram, not a
      // sum: the per-pass compile time is the pass's compile count times
      // the histogram's mean (ms) at the end of the pass
      "codegen_compile_s" -> (compiles - o.compiles) * compileMeanMs / 1e3)
  }
  def counters(): Counters = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Counters(System.nanoTime(), osBean.getProcessCpuTime, jitBean.getTotalCompilationTime,
      gcMillis, clBean.getTotalLoadedClassCount, h.getCount, h.getSnapshot.getMean)
  }

  /** A `VmHWM`/`VmRSS`-style line of /proc/self/status, in MB. */
  def procStatusMb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Heap the program holds, which the pre-touched initial heap hides
    * from `VmHWM`: the largest heap occupancy left after a collection,
    * across the collections it observes while `on`. */
  object HeapAfterGc extends javax.management.NotificationListener {
    @volatile var on = false
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
    def peakMb: Double = peak.get / 1048576.0
  }

  // ---- output check -------------------------------------------------------

  /** Order-insensitive row count and checksum of a query's output, taken
    * on the executors while the rows stream past, like the noop sink
    * drops them. Doubles are rounded to nine significant digits first,
    * because plain double sums differ in the last bits between passes. */
  object Checksum {
    private def mix(h0: Long): Long = {
      var h = h0
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
      h
    }
    def roundedDouble(d: Double): Long =
      if (d == 0.0) 0L
      else if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
      else {
        val e = math.floor(math.log10(math.abs(d))).toInt
        val q = math.round(d / math.pow(10, e - 8))
        q * 1000 + e
      }
    def value(row: InternalRow, i: Int, dt: DataType): Long =
      if (row.isNullAt(i)) 0x9e3779b97f4a7c15L
      else dt match {
        case DoubleType => roundedDouble(row.getDouble(i))
        case FloatType => roundedDouble(row.getFloat(i).toDouble)
        case st: StructType => struct(row.getStruct(i, st.size), st)
        case ArrayType(et, _) => array(row.getArray(i), et)
        case other => row.get(i, other).hashCode.toLong
      }
    def array(a: ArrayData, et: DataType): Long = {
      var h = a.numElements().toLong
      val holder = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      var i = 0
      while (i < a.numElements()) {
        holder.update(0, if (a.isNullAt(i)) null else a.get(i, et))
        h = h * 31 + value(holder, 0, et)
        i += 1
      }
      h
    }
    def struct(r: InternalRow, st: StructType): Long = {
      var h = 17L
      var i = 0
      while (i < st.size) { h = h * 31 + value(r, i, st(i).dataType); i += 1 }
      mix(h)
    }
  }

  /** Runs the action the benchmark times: executes the query's physical
    * plan under a SQL execution id and returns (rows, checksum). */
  def execute(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val parts = qe.toRdd.mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += Checksum.struct(r, schema) }
        Iterator.single((n, h))
      }.collect()
      (parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }

  // ---- tracing --------------------------------------------------------------

  /** Per-pass spans and counts from Spark's listener bus. Events are
    * delivered asynchronously, so a pass is read only after [[drain]]. */
  final class Tracer extends SparkListener {
    val SentinelPrefix = "perfbench-drain-"
    private val sentinelJobs = mutable.Set[Int]()
    private val sentinelStages = mutable.Set[Int]()
    private val drained = new java.util.concurrent.LinkedBlockingQueue[String]()
    private val jobStart = mutable.Map[Int, Long]()
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    var stages = 0
    val taskRunMs = mutable.ArrayBuffer[Long]()
    val stageTaskRunMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    var taskCpuNs, taskGcMs, shufRead, shufWrite, spill, bytesRead, bytesWritten = 0L

    def reset(): Unit = synchronized {
      jobSpans.clear(); stages = 0; taskRunMs.clear(); stageTaskRunMs.clear()
      taskCpuNs = 0; taskGcMs = 0; shufRead = 0; shufWrite = 0; spill = 0; bytesRead = 0; bytesWritten = 0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      if (d != null && d.startsWith(SentinelPrefix)) { sentinelJobs += e.jobId; sentinelStages ++= e.stageIds }
      else jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (sentinelJobs.remove(e.jobId)) drained.put("done")
      else jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (!sentinelStages.contains(e.stageInfo.stageId)) stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!sentinelStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        taskRunMs += m.executorRunTime
        stageTaskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        taskGcMs += m.jvmGCTime
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        bytesRead += m.inputMetrics.bytesRead
        bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    /** Blocks until every event posted before the call has been handled. */
    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(SentinelPrefix + System.nanoTime())
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prior)
      if (drained.poll(30, java.util.concurrent.TimeUnit.SECONDS) == null)
        sys.error("listener bus did not drain within 30 s")
    }
  }

  final class StreamTracer extends StreamingQueryListener {
    @volatile var started, terminated, batches = 0
    @volatile var batchMs, addBatchMs, walCommitMs = 0L
    def reset(): Unit = synchronized { batches = 0; batchMs = 0; addBatchMs = 0; walCommitMs = 0 }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized { started += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized { terminated += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches += 1
      batchMs += d.getOrElse("triggerExecution", 0L)
      addBatchMs += d.getOrElse("addBatch", 0L)
      walCommitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def awaitTerminations(): Unit = {
      val deadline = System.nanoTime() + 10e9.toLong
      while (terminated < started && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }

  /** Union length of [start, end] spans, in ms. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---- JSON ---------------------------------------------------------------

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  // ---- main -----------------------------------------------------------------

  def packOf(name: String): String =
    graft.SparkEntry.packs.find(_.queries.contains(name))
      .map(_.getClass.getName.split('.').dropRight(1).last).getOrElse("unknown")

  def main(args: Array[String]): Unit = {
    val plan = readPlan(Paths.get(args(0)))
    val recordPath = Paths.get(args(1))
    val record = mutable.LinkedHashMap[String, Any]()
    val dataDir = plan.str("data_dir")
    val cores = plan.int("cores")
    val queries = plan.list("queries")
    val orders = plan.orders
    val trace = plan.str("trace") == "1"
    val checkDir = plan.str("check_dir")
    val all = graft.SparkEntry.queries
    queries.foreach(q => require(all.contains(q), s"unknown query $q"))

    // -- set-up: session, first loads, warm-up ---------------------------------
    val tSession = System.nanoTime()
    val builder = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    plan.confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val tables = plan.list("tables")
    val tLoad = System.nanoTime()
    tables.foreach(t => graft.core.Tables.load(spark, dataDir, t).schema)
    val firstLoadS = (System.nanoTime() - tLoad) / 1e9
    // cached loads: the schema is known, so no inference job runs
    val cachedLoads = 20
    val tCached = System.nanoTime()
    (1 to cachedLoads).foreach(_ => tables.foreach(t => graft.core.Tables.load(spark, dataDir, t).schema))
    val cachedLoadMs = (System.nanoTime() - tCached) / 1e6 / (cachedLoads * tables.size)

    val packs = queries.map(q => q -> packOf(q)).toMap
    val tracer = new Tracer
    val streamTracer = new StreamTracer

    final case class Exec(query: String, pass: Int, ok: Boolean, rows: Long, checksum: Long,
        constructS: Double, executeS: Double, phases: Map[String, Double], compiles: Long, error: String)

    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    /** One query: construct the DataFrame, then run the timed action, or
      * (on the check pass) write the output for the oracle comparison. */
    def runQuery(q: String, pass: Int, check: Boolean): Exec = {
      val c0 = compiles
      val t0 = System.nanoTime()
      try {
        val df = all(q)(spark, dataDir)
        val t1 = System.nanoTime()
        val (rows, sum) =
          if (check) { df.write.mode("overwrite").parquet(s"$checkDir/$q.parquet"); (-1L, 0L) }
          else execute(df)
        val t2 = System.nanoTime()
        val phases = df.queryExecution.tracker.phases.map { case (k, p) => k -> (p.endTimeMs - p.startTimeMs) / 1e3 }
        Exec(q, pass, ok = true, rows, sum, (t1 - t0) / 1e9, (t2 - t1) / 1e9, phases, compiles - c0, null)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: $e")
        Exec(q, pass, ok = false, 0L, 0L, (System.nanoTime() - t0) / 1e9, 0.0, Map.empty, compiles - c0, e.toString)
      }
    }

    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val execs = mutable.ArrayBuffer[Exec]()
    var passNo = 0
    def runPass(phase: String, names: Seq[String], traced: Boolean): Unit = {
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.streams.addListener(streamTracer)
        tracer.drain(spark); tracer.reset(); streamTracer.reset()
      }
      val c0 = counters()
      val ex = names.map(q => runQuery(q, passNo, check = phase == "check"))
      val c1 = counters()
      val wallS = (c1.wallNs - c0.wallNs) / 1e9
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> passNo, "phase" -> phase, "traced" -> traced)
      rec ++= (c1 - c0)
      rec("rss_mb") = procStatusMb("VmRSS")
      rec("hwm_mb") = procStatusMb("VmHWM")
      val mem = ManagementFactory.getMemoryMXBean
      rec("heap_committed_mb") = mem.getHeapMemoryUsage.getCommitted / 1048576.0
      rec("nonheap_committed_mb") = mem.getNonHeapMemoryUsage.getCommitted / 1048576.0
      if (traced) {
        tracer.drain(spark)
        streamTracer.awaitTerminations()
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(streamTracer)
        tracer.synchronized {
          val runMs = tracer.taskRunMs.map(_.toDouble).toSeq
          val skews = tracer.stageTaskRunMs.values.filter(_.size >= 2).map { ts =>
            val med = median(ts.map(_.toDouble).toSeq)
            if (med > 0) ts.max / med else 1.0
          }.toSeq
          val jobS = unionMs(tracer.jobSpans.toSeq) / 1e3
          rec ++= Seq(
            "scheduler.jobs_per_pass" -> tracer.jobSpans.size, "scheduler.stages_per_pass" -> tracer.stages,
            "scheduler.tasks_per_pass" -> runMs.size, "scheduler.job_s" -> jobS,
            "scheduler.driver_idle_s" -> math.max(0.0, wallS - jobS),
            "executor.task_run_s" -> runMs.sum / 1e3, "executor.task_cpu_s" -> tracer.taskCpuNs / 1e9,
            "executor.gc_s" -> tracer.taskGcMs / 1e3,
            "executor.task_skew" -> (if (skews.isEmpty) 1.0 else median(skews)),
            "executor.core_util" -> runMs.sum / 1e3 / (wallS * cores),
            "shuffle.read_mb" -> tracer.shufRead / 1048576.0, "shuffle.write_mb" -> tracer.shufWrite / 1048576.0,
            "shuffle.spill_mb" -> tracer.spill / 1048576.0,
            "sources.bytes_read_mb" -> tracer.bytesRead / 1048576.0,
            "sources.bytes_written_mb" -> tracer.bytesWritten / 1048576.0)
        }
        streamTracer.synchronized {
          rec ++= Seq("streaming.batches" -> streamTracer.batches, "streaming.batch_s" -> streamTracer.batchMs / 1e3,
            "streaming.add_batch_s" -> streamTracer.addBatchMs / 1e3,
            "streaming.wal_commit_s" -> streamTracer.walCommitMs / 1e3)
        }
        rec("sources.files_written") = filesUnder(plan.list("written_dirs"))
        Seq("analysis", "optimization", "planning").foreach { p =>
          rec(s"catalyst.${p}_s") = ex.map(_.phases.getOrElse(p, 0.0)).sum
        }
        Seq("operators", "functions", "sources", "streaming").foreach { p =>
          rec(s"$p.construct_s") = ex.filter(e => packs(e.query) == p).map(_.constructS).sum
          rec(s"$p.execute_s") = ex.filter(e => packs(e.query) == p).map(_.executeS).sum
        }
      }
      execs ++= ex
      rec("query_s") = ex.map(e => e.query -> (e.constructS + e.executeS)).toMap
      rec("query_compiles") = ex.map(e => e.query -> e.compiles).toMap
      passNo += 1
      passes += rec
      System.err.println(f"[perfbench] pass ${rec("pass")} $phase wall=$wallS%.3f compiles=${rec("codegen_compiles")} " +
        ex.map(e => f"${e.query}=${e.constructS + e.executeS}%.2f/${e.compiles}").mkString(" "))
    }
    def order(): Seq[String] = orders(passNo % orders.size).map(queries)

    // warm-up: a fixed number of passes, so every run reaches the timed
    // region in the same state; the first one is the output-check pass
    val warmups = plan.int("warmup_passes")
    runPass("check", order(), traced = false)
    (2 to warmups).foreach(_ => runPass("warmup", order(), traced = false))

    // -- timed region ----------------------------------------------------------
    HeapAfterGc.install()
    HeapAfterGc.on = true
    val firstTimedEpoch = epochSeconds
    val tTimed = System.nanoTime()
    (0 until plan.int("timed_passes")).foreach { k =>
      // a traced run alternates untraced and traced passes, so the
      // tracing overhead is measured against passes from the same window
      runPass("timed", order(), traced = trace && k % 2 == 1)
    }
    val timedS = (System.nanoTime() - tTimed) / 1e9
    val hwm = procStatusMb("VmHWM")
    HeapAfterGc.on = false

    // -- untimed: kernel timings (traced runs) ---------------------------------
    if (trace) record("expr") = exprTimings(spark, dataDir)

    val ctx = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master)
    Seq("spark.sql.codegen.cache.maxEntries", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.codegen.wholeStage").foreach { k =>
      ctx(k) = spark.conf.getOption(k).getOrElse(org.apache.spark.sql.internal.SQLConf.get.getConfString(k, "<unset>"))
    }
    ctx ++= spark.conf.getAll.filter(_._1.startsWith("graft.")).toSeq.sorted

    val oracle = graft.SparkEntry.oracleSql
    record ++= Seq(
      "setup_end_epoch_s" -> firstTimedEpoch,
      "core.session_s" -> sessionS, "core.tables_first_load_s" -> firstLoadS,
      "core.tables_cached_load_ms" -> cachedLoadMs,
      "timed_s" -> timedS, "peak_rss_mb" -> hwm, "peak_heap_mb" -> HeapAfterGc.peakMb, "context" -> ctx,
      "queries" -> queries, "packs" -> packs,
      "oracle_sql" -> queries.flatMap(q => oracle.get(q).map(q -> _)).toMap,
      "passes" -> passes,
      "executions" -> execs.map(e => mutable.LinkedHashMap[String, Any](
        "query" -> e.query, "pass" -> e.pass, "ok" -> e.ok, "rows" -> e.rows,
        "checksum" -> e.checksum.toString, "s" -> (e.constructS + e.executeS), "error" -> e.error)))
    Files.writeString(recordPath, json(record))
    spark.stop()
  }

  def filesUnder(dirs: Seq[String]): Long = dirs.map { d =>
    val p = Paths.get(d)
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toLong finally s.close()
    }
  }.sum

  /** Per-document time of the public text-kernel entry points in
    * `graft.expr`, called directly on the corpus text. */
  def exprTimings(spark: SparkSession, dataDir: String): Map[String, Double] = {
    import graft.expr._
    val texts = graft.core.Tables.load(spark, dataDir, "documents").select("text").limit(2000)
      .collect().map(r => UTF8String.fromString(Option(r.getString(0)).getOrElse("").toLowerCase))
    val tokens: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.toString.split(" ").filter(_.nonEmpty).map(UTF8String.fromString)))
    val numHashes = graft.functions.DedupOps.NumHashes
    var sink = 0L
    def time(f: Int => Long): Double = {
      var i = 0
      while (i < texts.length * 3) { sink += f(i % texts.length); i += 1 } // warm the kernel
      val t0 = System.nanoTime()
      var reps = 0
      while (System.nanoTime() - t0 < 300000000L || reps < 1) {
        i = 0
        while (i < texts.length) { sink += f(i); i += 1 }
        reps += 1
      }
      (System.nanoTime() - t0) / 1e3 / (reps.toLong * texts.length)
    }
    val out = Map(
      "expr.minhash_sig_us_per_doc" -> time(i => MinhashSig.compute(texts(i), numHashes)(0)),
      "expr.shingle_card_us_per_doc" -> time(i => ShingleCard.compute(texts(i))),
      "expr.simhash_us_per_doc" -> time(i => SimhashSig.compute(texts(i))),
      "expr.shingles_us_per_doc" -> time(i => TextKernels.shingles(tokens(i)).numElements().toLong),
      "expr.rep_stats_us_per_doc" -> time(i => TextKernels.repStats(tokens(i)).numFields.toLong))
    if (sink == 42L) System.err.println("")
    out
  }
}
