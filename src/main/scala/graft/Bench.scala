package graft

import graft.core.Fmt.jsonString
import graft.core.Knobs

/** Benchmark main (driver contract): times the headline query set from
  * BASELINE.md on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology:
  *  - one untimed pass over the headline set runs first. It absorbs
  *    session start, Spark's own class loading, the first table loads and
  *    each plan's first janino compile. It does NOT bring the JVM to a
  *    steady state: the headline set generates about 175 classes a pass
  *    against Spark's 100-entry codegen cache, so every pass re-compiles
  *    100–160 of them, and HotSpot is still JIT-compiling minutes later
  *    (4–18 s of CPU per pass over 30 passes at sf0.1 on 4 cores,
  *    perfbench/README.md "Steady state"). The timed min is a partly-warm
  *    figure, comparable between runs of this same schedule;
  *  - results sink to the noop format — `count()` would let the optimizer
  *    prune the expensive expressions out of the measured plan.
  */
object Bench {
  /** Headline set (BASELINE.md "Bench query set"). */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",   // scan→filter→agg→sort
    "text_wordcount",       // tokenize→explode→agg
    "text_grep",            // regex extract→agg→sort desc
    "rel_global_sort",      // total-order sort (TeraSort stand-in)
    "rel_topk",             // TakeOrderedAndProject
    "join_3way_agg",        // customer⋈orders⋈lineitem
    "join_broadcast_dims",  // broadcast dim joins
    "join_override",        // snapshot-merge full_outer+coalesce
    "agg_value_histogram",  // per-key histogram re-agg
    "evt_tumbling",         // 10-min event-time windows
    "rel_secondary_sort",   // per-key ordered window
    "dedup_minhash_lsh",    // MinHash+LSH banding + verify
    "sim_cosine_topk")      // brute-force cosine top-k (codegen expr)

  /** Banded-LSH scale-path block (timed under `graft.sim.exact=false`, the
    * 100 TB deployment route). A field, not a main-local, so plan-dump
    * tooling iterates the same set the bench times. */
  val banded: Seq[String] = Seq("sim_pairs_threshold", "sim_nearest_same_label",
    "dedup_embedding_cosine", "dedup_ngram_jaccard")

  /** One dependency chain of `n` XXH64 long hashes — the fixed work unit
    * behind BOTH calibration anchors below (the chain defeats ILP and
    * DCE, so its wall tracks scalar CPU speed, not issue width). */
  private def chain(seed: Long, n: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = seed
    var i = 0L
    while (i < n) { h = XXH64.hashLong(h + i, 42L); i += 1 }
    h
  }

  /** Machine-window calibration anchor (round 15 — r13 brief #4, validated
    * by three uniform drift/recovery cycles on byte-identical code: r12
    * 6.61 s → r13 7.26 s → r14 6.80 s officials with zero source change).
    * One FIXED-WORK, Spark-free, single-threaded CPU figure — 50M chained
    * XXH64 long hashes — tracking scalar CPU speed under the current
    * machine load. Reported as `calib_sec` in the bench JSON: two rounds'
    * totals divide out their calib ratio before anyone reads a drift as a
    * regression. min-of-3 inside one run; the chain result is folded into
    * a side-effect so the JIT cannot elide the loop.
    */
  private def calibSec(): Double = {
    def pass(): (Double, Long) = {
      val t0 = System.nanoTime()
      val h = chain(42L, 50000000L)
      ((System.nanoTime() - t0) / 1e9, h)
    }
    val runs = Seq.fill(3)(pass())
    // the hash values are data-dependent on the full chain: printing one
    // keeps every iteration observable (stderr, not the JSON line)
    System.err.println(s"[bench] calib chain=${runs.head._2}")
    runs.map(_._1).min
  }

  /** Multi-threaded twin of [[calibSec]]: the SAME fixed work per thread
    * on every available core at once, reporting the wall of the slowest
    * thread (min-of-3 rounds). The single-threaded anchor tracks scalar
    * CPU speed (frequency/thermal state); this one additionally feels
    * CO-TENANT CORE CONTENTION — the round-15 closing window measured
    * query totals +25% with the single-threaded anchor UNMOVED (0.463 s
    * in both windows), proving that window was parallel-throughput
    * contention, invisible to one pinned thread. Reading rule: totals
    * drifting with calib_mt_sec (and calib_sec flat) = contended machine;
    * both flat with totals moved = look at the code. The thread count
    * rides the JSON as `calib_mt_threads`: per-thread work is fixed, so
    * the figure is only comparable between runs at the SAME width — a
    * resized machine (or a different cpus dial) would move it for
    * capacity reasons, and the recorded width lets a reader tell the two
    * apart instead of mis-reading a resize as contention.
    */
  private def calibMtSec(): (Int, Double) = {
    val threads = Runtime.getRuntime.availableProcessors()
    def pass(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => { val h = chain(42L + t, 20000000L); if (h == 0) System.err.println("") })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    (threads, (1 to 3).map(_ => pass()).min)
  }

  /** One full streaming pass over `a` starting at element `start` and
    * wrapping — the fixed work unit behind both memory-bandwidth anchors.
    * Returns the sum so callers can fold it into a side effect (DCE
    * guard); the sum is start-independent, which the spec pins. */
  private[graft] def sweep(a: Array[Long], start: Int): Long = {
    val n = a.length
    var s = 0L
    var i = start
    while (i < n) { s += a(i); i += 1 }
    i = 0
    while (i < start) { s += a(i); i += 1 }
    s
  }

  /** Production size of the membw calibration array: 64M longs = 512 MiB,
    * far above any plausible LLC so every sweep streams from DRAM. */
  private val MembwLongs: Int = 1 << 26

  /** Memory-bandwidth calibration anchors (round 20 — VERDICT r19 item
    * 1a). The round-19 official bench broke the two XXH64 anchors'
    * reading rule in a direction they cannot express: BOTH anchors
    * flat-to-faster (calib_sec 0.333 s, 27% faster than r18; calib_mt_sec
    * 0.177, the calmest ever recorded) while every query total moved UP
    * 10–25% on a byte-identical source tree. The XXH64 chain is pure
    * scalar CPU (one register-resident dependency chain, no memory
    * traffic); Spark queries at local[32] are memory/shuffle-bound — a
    * host-regime change that trades scalar speed against memory-subsystem
    * throughput is invisible to both existing anchors. These two measure
    * exactly that missing dimension: a streaming sum over a fixed
    * 512 MiB long array, (1) single-threaded = per-core DRAM bandwidth
    * (`calib_membw_sec`, 4 sweeps = 2 GiB of traffic per pass), and
    * (2) one sweep per thread on every core at once, each thread starting
    * at a staggered offset so threads cannot ride each other's cache
    * lines = aggregate bandwidth under full fan-out (`calib_membw_mt_sec`,
    * at the same width as `calib_mt_threads`). min-of-3 passes each, sums
    * folded into a side effect against DCE, array allocated + paged in +
    * JIT-warmed before any timing. Reading-rule addition (SCALE.md round
    * 20): totals drifting WITH the membw anchors while the XXH64 pair
    * stays flat = memory-regime change, not code.
    *
    * `longs`/`threads` are parameters so the spec can exercise the exact
    * production code path at a small size; production calls pass
    * [[MembwLongs]] and the processor count.
    */
  private[graft] def calibMembw(longs: Int, threads: Int): (Double, Double) = {
    val a = new Array[Long](longs)
    var i = 0
    while (i < longs) { a(i) = i.toLong; i += 1 }
    if (sweep(a, 0) == 1L) System.err.println("") // page-in + JIT warm
    def passSt(): Double = {
      val t0 = System.nanoTime()
      var k = 0
      var s = 0L
      while (k < 4) { s += sweep(a, 0); k += 1 }
      if (s == 1L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    // threads are created AND started before the clock: the r20 form timed
    // thread creation/start inside the measured region (~few ms of an
    // ~85 ms figure — ADVICE r20 #1). A CountDownLatch gates the sweeps so
    // only sweeping is timed. Caveat (same advice): the staggered offsets
    // stop adjacent threads riding each other's cache lines, but on a
    // large-LLC host trailing threads can still hit LLC-resident lines
    // fetched by leaders — read the figure as a relative drift anchor, not
    // absolute DRAM bandwidth.
    def passMt(): Double = {
      val start = new java.util.concurrent.CountDownLatch(1)
      val ts = (0 until threads).map { t =>
        val off = ((a.length.toLong * t) / threads).toInt
        val th = new Thread(() => {
          start.await()
          if (sweep(a, off) == 1L) System.err.println("")
        })
        th.start(); th
      }
      val t0 = System.nanoTime()
      start.countDown()
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    ((1 to 3).map(_ => passSt()).min, (1 to 3).map(_ => passMt()).min)
  }

  /** Fixture physical stats (round 20 — VERDICT r19 item 1b): per-table
    * parquet bytes + row-group count + footer row count for every
    * `*.parquet` entry under `dir` (plain files and part-file
    * directories both handled). Rationale: the round-19 drift
    * adjudication had to treat the driver's mid-round fixture
    * regeneration as an unverifiable confound — content is
    * seed-deterministic, but physical layout (row-group sizing,
    * encodings) drives scan parallelism, and the pre-regeneration files
    * were gone. Recording the physical shape alongside every bench
    * figure makes the next regeneration observable instead of a
    * confound. Footer-only reads (~10 files), so the cost is
    * microseconds against a multi-second bench. Never fails the bench:
    * any per-table error is a stderr note and the table is skipped; a
    * missing dir returns empty. */
  private[graft] def fixtureStats(dir: String): Seq[(String, Long, Long, Long)] = {
    import java.nio.file.{Files, Paths, Path => JPath}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    def listDir(p: JPath): Seq[JPath] = {
      val s = Files.list(p)
      try s.iterator.asScala.toVector finally s.close()
    }
    // recursive walk, not one-level listing: a partitioned table
    // (t.parquet/p=.../part-*.parquet) nests its files a level down, and
    // one-level listing would silently record it as (0,0,0) ground truth
    def parquetFiles(p: JPath): Seq[JPath] =
      if (Files.isRegularFile(p)) Seq(p)
      else {
        val s = Files.walk(p)
        try s.iterator.asScala.filter(f =>
          Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toVector
        finally s.close()
      }
    val conf = new org.apache.hadoop.conf.Configuration()
    listDir(root)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
      .flatMap { t =>
        val name = t.getFileName.toString.stripSuffix(".parquet")
        try {
          val files = parquetFiles(t)
          // skip, don't zero-fill: a (0,0,0) row would read as "the
          // fixture was empty" to a drift adjudicator, when the truth is
          // "there was nothing readable here"
          if (files.isEmpty) {
            System.err.println(s"[bench] fixture stats for $name skipped: no parquet files")
            None
          } else {
            var bytes = 0L; var groups = 0L; var rows = 0L
            files.foreach { f =>
              bytes += Files.size(f)
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.toUri), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try { groups += r.getRowGroups.size.toLong; rows += r.getRecordCount }
              finally r.close()
            }
            Some((name, bytes, groups, rows))
          }
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] fixture stats for $name skipped: ${e.getMessage}")
          None
        }
      }
  }

  /** JSON object for [[fixtureStats]] output. */
  private[graft] def fixturesJson(stats: Seq[(String, Long, Long, Long)]): String =
    stats.map { case (n, b, g, r) =>
      jsonString(n) + ":{\"bytes\":" + b + ",\"row_groups\":" + g + ",\"rows\":" + r + "}"
    }.mkString("{", ",", "}")

  /** Compact machine-readable headline record (round 21 — VERDICT r20
    * item 1). BENCH_r20.json came back `"parsed": null`: the r20
    * instrumentation (membw anchors + fixture stats) grew the one-line
    * verbose JSON past the driver's finite stdout tail-capture window, so
    * the captured tail began MID-LINE and the head of the record
    * (metric/value/queries/banded) was cut off. The contract surface is
    * the driver's CAPTURE of the line, not the line itself — so the LAST
    * stdout line is now this compact record holding every headline key
    * (metric, total, per-query mins, banded mins, all four calib anchors,
    * sf) and nothing sample- or fixture-shaped, spec-pinned under a 1.5 KB
    * byte budget. The verbose record (samples, fixtures) still prints one
    * line earlier and still lands in bench_result.json, so no information
    * is lost — it just no longer has to survive the capture window.
    *
    * `cpus`/`master` ride the record (round 22 — VERDICT r21 item 1): the
    * r21 driver flagged `suspect_cpus_ignored` because nothing in the
    * EMITTED record proved the run honored `SPARK_GRAFT_CPUS` — the code
    * does (`Session.local` reads it into both the master and shuffle
    * partitions),
    * but the record couldn't show it. Echoing the dial and the effective
    * master makes a low-core run self-describing. The flat 8-vs-32-core
    * ratios themselves are a property of the sf0.1 fixtures (every table is
    * ONE parquet file with ONE row group — see the verbose `fixtures`
    * block — so scans are single-task and walls are stage/driver-overhead
    * bound; the fixture dirs are driver-generated and read-only, so the
    * workload cannot be made core-sensitive from this side).
    */
  private[graft] def headlineJson(total: Double, qs: String, bq: String,
      calib: Double, calibMt: Double, calibMtThreads: Int,
      membw: Double, membwMt: Double, sfDir: String,
      cpus: String, master: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"banded":$bq,""" +
      s""""calib_sec":${num4(calib)},"calib_mt_sec":${num4(calibMt)},"calib_mt_threads":$calibMtThreads,""" +
      s""""calib_membw_sec":${num4(membw)},"calib_membw_mt_sec":${num4(membwMt)},""" +
      s""""cpus":${jsonString(cpus)},"master":${jsonString(master)},""" +
      s""""sf":${jsonString(sfDir)}}"""

  /** Locale-independent 4-decimal JSON number — Locale.ROOT, not the
    * f-interpolator (round-16 advice #4): f"" formats with the JVM
    * default locale, and a comma-decimal locale (fr_FR, de_DE) would turn
    * the one-line bench contract into invalid JSON. Double.toString (the
    * min-of-passes values in `toJson`) is locale-independent already;
    * only %-style formatting isn't.
    */
  private[graft] def num4(d: Double): String = core.Fmt.num(d, 4)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = core.Session.defaultCores
    val spark = core.Session.local(cores)
    // deployment arithmetic: plain double sums (the decimal-exact path is
    // a reproducibility feature the correctness gate uses — see QueryPack)
    spark.conf.set(Knobs.SumsExact.key, "false")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // One untimed pass first: it takes the first-execution costs out of the
    // timed passes, not the re-compiles and JIT work that continue through
    // them (methodology note above). Then `passes` timed passes, reporting
    // the min: single-pass numbers on a shared machine carry ~±15% noise
    // (observed round-over-round: the same build measured 7.0s and 9.6s
    // under different machine load), so more passes = tighter min.
    headline.foreach(run)

    // malformed or non-positive values fall back to 7 (min-of-3 was not
    // enough: identical builds measured 24-32% apart round-over-round on a
    // shared machine) — a crash here would discard the already-run warmup
    // and 0 passes would silently report the -1 failure sentinel for every
    // query; values above 20 clamp to 20 (an unbounded typo like 300 would
    // multiply bench wall-clock 100×), with a stderr note so an
    // asked-for-25 run doesn't silently measure less
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).filter(_ > 0)
      .map { p =>
        if (p > 20) System.err.println(s"[bench] SPARK_GRAFT_BENCH_PASSES=$p clamped to 20")
        math.min(p, 20)
      }.getOrElse(7)
    // one measurement methodology for every block: min of `passes` timed
    // runs (failures excluded; all-failed → the -1 sentinel). Passes are
    // ROUND-ROBIN over the whole set, not consecutive per query: the round-6
    // official bench showed the first four queries of the set drifting
    // +18-61% while a re-run on identical code showed a DIFFERENT contiguous
    // block drifting — shared-machine load spikes span seconds, so 7
    // back-to-back passes of one ~0.3 s query all land inside one spike and
    // min-of-7 can't discard it. Interleaving spreads each query's passes
    // across the whole measurement window, so a spike costs every query at
    // most one or two of its passes.
    // carries every raw pass alongside the min: dispersion is what
    // distinguishes machine-load noise from a code regression (a load
    // spike shows as one or two outlier samples over a tight floor; a
    // regression lifts every sample) — round 7's drift dispute took four
    // extra ritual runs to settle because only the min was recorded
    def measure(names: Seq[String]): Seq[(String, Double, Seq[Double])] = {
      val times = Seq.fill(passes)(names).flatten.map(n => n -> run(n))
        .groupMap(_._1)(_._2)
      names.map { n =>
        val all = times(n)
        val ok = all.filter(_ >= 0)
        (n, if (ok.isEmpty) -1.0 else ok.min, all)
      }
    }
    def toJson(results: Seq[(String, Double, Seq[Double])]): String =
      results.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def samplesJson(results: Seq[(String, Double, Seq[Double])]): String =
      results.map { case (k, _, all) =>
        "\"" + k + "\":" + all.map(num4).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val results = measure(headline)
    val qs = toJson(results)
    val total = results.map(_._2).filter(_ >= 0).sum

    // second block: the banded-LSH scale paths (graft.sim.exact=false) —
    // the configuration a 100 TB deployment runs the similarity/dedup
    // family under. Separate JSON key so the headline block (and its
    // total) stays comparable round-over-round.
    val bandedResults = Knobs.withConf(spark, Knobs.SimExact.key -> "false") {
      banded.foreach(run) // warmup: banded plans codegen fresh classes
      measure(banded)
    }
    val bq = toJson(bandedResults)
    // calibration anchor AFTER the measured passes: it shares the window
    // that produced them without stealing cache/CPU warmth from the first
    // warmup, and a load spike during measurement shows up in it
    val calib = calibSec()
    val (calibMtThreads, calibMt) = calibMtSec()
    // Throwable, not NonFatal: the 512 MiB calib array is the one
    // allocation in main that can plausibly OOM (heap is
    // SPARK_DRIVER_MEM-overridable), OutOfMemoryError is NOT NonFatal,
    // and this runs AFTER every measured pass — an unguarded throw here
    // would discard minutes of completed measurements without printing
    // the JSON line. Allocation failure leaves no half-state to corrupt;
    // the -1.0 sentinel marks the anchor unusable, like a failed query.
    // pre-flight the 512 MiB allocation against live heap headroom (ADVICE
    // r21 #3): recovering from OutOfMemoryError assumes the failure left no
    // half-state, but an OOM thrown mid-sweep (thread stacks in passMt) can
    // degrade the JVM and make the JSON emission below unreliable. Skipping
    // up front (25% slack over the array size) keeps the anchors' -1.0
    // sentinel semantics without ever provoking the error; the narrowed
    // catch stays as last-resort insurance for a preflight miss
    // (fragmentation), where allocation failure still leaves no half-state.
    val rt = Runtime.getRuntime
    val membwBytes = MembwLongs.toLong * 8
    val needed = membwBytes + (membwBytes >> 2)
    def headroom(): Long = rt.maxMemory - (rt.totalMemory - rt.freeMemory)
    // instantaneous occupancy right after the measured passes is mostly
    // COLLECTIBLE garbage plus checkpoint blocks awaiting the async
    // ContextCleaner (review r22 #1) — a raw read would spuriously skip a
    // calibration the old allocate-and-let-GC-run behavior completed.
    // Only if a full-GC hint still leaves less than the array + 25% slack
    // is the skip real.
    val enough = headroom() >= needed || { System.gc(); headroom() >= needed }
    val (membw, membwMt) =
      if (!enough) {
        System.err.println(s"[bench] membw calib skipped: heap headroom " +
          s"${headroom()} B < $needed B needed even after a GC hint")
        (-1.0, -1.0)
      }
      else try calibMembw(MembwLongs, calibMtThreads)
      catch {
        // OutOfMemoryError named, not a blanket Throwable (ADVICE r20 #3):
        // the blanket also swallowed InterruptedException without restoring
        // the interrupt flag and continued after arbitrary
        // VirtualMachineErrors where the JSON printing below may itself be
        // unreliable. Allocation failure leaves no half-state to corrupt;
        // the -1.0 sentinel marks the anchor unusable, like a failed query.
        case e: OutOfMemoryError =>
          System.err.println(s"[bench] membw calib failed: $e"); (-1.0, -1.0)
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          System.err.println(s"[bench] membw calib interrupted: $e"); (-1.0, -1.0)
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] membw calib failed: $e"); (-1.0, -1.0)
      }
    val fixtures = fixturesJson(
      try fixtureStats(sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] fixture stats failed: ${e.getMessage}"); Seq.empty })
    // one source of truth for the headline keys: the verbose line is the
    // compact record with the samples/fixtures payload spliced in before
    // the closing brace ("sf" rides both; escaped — ADVICE r20 #2: fixture
    // names were escaped but the interpolated path was not, the exact
    // corruption mode the escaping commit fixed)
    val headlineLine = headlineJson(total, qs, bq,
      calib, calibMt, calibMtThreads, membw, membwMt, sfDir,
      cores.toString, spark.sparkContext.master)
    val line = headlineLine.stripSuffix("}") +
      s""","samples":${samplesJson(results)},"banded_samples":${samplesJson(bandedResults)},""" +
      s""""fixtures":$fixtures}"""
    println(line)
    // LOUD failure surface (round-8 lesson: three headline queries silently
    // reported the -1.0 sentinel for a whole round). Named on stdout next to
    // the JSON so any reader of the bench output sees the breakage.
    val benchFailed = (results ++ bandedResults).collect { case (n, v, _) if v < 0 => n }
    if (benchFailed.nonEmpty)
      println(s"[bench-FAILED] ${benchFailed.size} queries errored: ${benchFailed.mkString(", ")}")
    // the compact headline record goes LAST so it sits wholly inside the
    // driver's tail-capture window whatever the verbose line's size does
    println(headlineLine)
    // sbt prefixes stdout with "[info] ", which defeated the driver's JSON
    // parse in round 1 — also write the line to a file it can read directly
    // (cwd and, when launched elsewhere, the known repo root). Both copies
    // are convenience fallbacks: never fail the run over a read-only cwd
    // after the measurements already printed.
    def tryWrite(p: java.nio.file.Path): Unit =
      try java.nio.file.Files.writeString(p, line)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] convenience copy $p skipped: ${e.getMessage}") }
    tryWrite(java.nio.file.Paths.get("bench_result.json"))
    val repoRoot = java.nio.file.Paths.get("/root/repo")
    if (java.nio.file.Files.isDirectory(repoRoot) && !java.nio.file.Files.isSameFile(
        repoRoot, java.nio.file.Paths.get("").toAbsolutePath))
      tryWrite(repoRoot.resolve("bench_result.json"))
    spark.stop()
  }
}
