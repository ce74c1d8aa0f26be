package graft.tools

import java.util.concurrent.atomic.AtomicLong

import graft.core.{Session, Tables}
import graft.functions.{BandTuner, DedupOps, SimilarityOps}
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared synthetic corpora + timing ritual for the measurement harness
  * (and BandTunerSpec, which validates the advisor on the clustered
  * corpus). Split from [[Harness]] so the spec depends on generators, not
  * on the subcommand dispatcher.
  */
object Corpora {
  val Dim: Int = SimilarityOps.Dim
  val Sigma = 0.025
  /** Uniform-background fraction — the isolated tail that is LSH's hard
    * population (no cluster to share a bucket with). 15% is a deliberately
    * adversarial stress tail; override via SPARK_GRAFT_CROSSOVER_BG to
    * model realistic near-dup corpora (round 7 measures 5% alongside).
    */
  val BgFrac: Double = sys.env.get("SPARK_GRAFT_CROSSOVER_BG")
    .map(s => s.toDoubleOption.getOrElse(sys.error(
      s"SPARK_GRAFT_CROSSOVER_BG must be a fraction, got '$s'")))
    .getOrElse(0.15)
  val ClusterSize = 50
  val NLabels = 8

  /** Default 8 tables × 8 planes: 256 buckets per table — the first
    * measured shape (8×4 = 16 buckets/table) packed ~25 clusters into
    * every bucket, making Σ|bucket|² comparable to n² and banded 4–5×
    * SLOWER than exact despite 0.95+ recall. The lesson is now codified in
    * [[SimilarityOps.bandShape]]: bucket count must exceed cluster count —
    * and since cluster count grows with n, override via
    * SPARK_GRAFT_CROSSOVER_BANDS to re-measure at corpus-matched shapes
    * (e.g. 8x10 = 1024 buckets for the ~2000-cluster 100k corpus).
    * Parsed eagerly so a malformed value fails at startup, not after the
    * expensive exact measurement pass.
    */
  val Bands: String = {
    val s = sys.env.getOrElse("SPARK_GRAFT_CROSSOVER_BANDS", "8x8")
    if (s.toLowerCase == "auto") s.toLowerCase
    else s.toLowerCase.split("x").map(t => scala.util.Try(t.trim.toInt)) match {
      case Array(scala.util.Success(t), scala.util.Success(p))
          if t > 0 && p > 0 && t * p <= graft.expr.Hyperplanes.Max => s
      case _ => sys.error(
        s"SPARK_GRAFT_CROSSOVER_BANDS must be '<tables>x<planes>' (or " +
          s"'auto' to let BandTuner.suggest pick per corpus) with " +
          s"tables*planes <= ${graft.expr.Hyperplanes.Max}, got '$s'")
    }
  }

  /** Resolve the shape for a generated corpus: the env value, or — in
    * `auto` mode — whatever [[BandTuner.suggest]] picks from the corpus
    * itself (threshold 0.96 = where the planted intra-cluster pairs sit;
    * round 7 closes the loop by letting the ADVISOR choose the shape the
    * measurement then validates, instead of a human reading the cluster
    * count off the generator).
    */
  def resolveBands(spark: SparkSession, dir: String): String =
    if (Bands != "auto") Bands
    else {
      val a = BandTuner.suggest(spark, dir, threshold = 0.96)
      println(f"CROSSOVER advisor shape=${a.shape} " +
        f"predRecall=${a.predictedRecall}%.4f " +
        f"predSpeedup=${a.predictedSpeedup}%.1fx recommend=${a.recommendBanded}")
      a.shape
    }

  /** Clustered embedding corpus — a mixture of Gaussians on the unit
    * sphere at 10–50× the gate's vector count: `n` vectors, (1-BgFrac) in
    * ~n/50 clusters (unit center + σ=0.025 noise, re-normalized →
    * intra-cluster cosine ≈ 0.96, above both the 0.9 dedup and 0.4 pairs
    * thresholds), the rest uniform background (pairwise cosine ~N(0,
    * 1/64): mostly isolated, occasional borderline pairs — the hard tail
    * for LSH). Labels = cluster mod 8, so same-label search stays an
    * eighth-corpus problem, not a per-cluster one. The driver's gate
    * embeddings are near-uniform on the sphere — LSH's documented worst
    * case; production near-dup corpora look like THIS, which is where the
    * banded routes must win (SCALE.md rounds 5–8).
    */
  /** L2-normalize to unit length, emitted as the Float embedding payload —
    * the one normalizer every vector generator shares (a diverging copy
    * would silently fork the corpus recipe).
    */
  private def unit(v: Array[Double]): Seq[Float] = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / nrm).toFloat).toSeq
  }

  /** A fresh random unit vector — the cluster-center / background draw. */
  private def randUnit(rnd: scala.util.Random): Seq[Float] =
    unit(Array.fill(Dim)(rnd.nextGaussian()))

  def generate(spark: SparkSession, n: Int, seed: Int = 7): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val nClusters = math.max(1, n / ClusterSize)
    val centers = Array.fill(nClusters)(randUnit(rnd))
    val nBg = (n * BgFrac).toInt
    // driver-side generation: 100k × 64 floats is model-state scale (~26 MB);
    // a real 100 TB corpus arrives as data, it isn't synthesized
    val rows = (0 until n).map { i =>
      if (i < nBg)
        (i.toLong, randUnit(rnd), rnd.nextInt(NLabels))
      else {
        val c = i % nClusters
        val v = Array.tabulate(Dim)(j => centers(c)(j) + Sigma * rnd.nextGaussian())
        (i.toLong, unit(v), c % NLabels)
      }
    }
    // dir carries the background fraction so corpora generated under
    // different SPARK_GRAFT_CROSSOVER_BG values never alias
    val dir = s"/tmp/graft_crossover/n${n}_bg${math.round(BgFrac * 100)}"
    rows.toDF("vec_id", "embedding", "label")
      .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  val Vocab = 8000
  val DocLen = 60
  /** Token-frequency skew. 0.7 is mildly Zipfian (both routes stay
    * linear-dominated); classic natural-language Zipf is s ≈ 1.0, where
    * the hottest shingles appear in percent-level fractions of all slots
    * and the exact self-join's Σ count² term explodes — override via
    * SPARK_GRAFT_DOCSX_ZIPF to measure that regime.
    */
  val ZipfS: Double = sys.env.get("SPARK_GRAFT_DOCSX_ZIPF")
    .map(s => s.toDoubleOption.getOrElse(sys.error(
      s"SPARK_GRAFT_DOCSX_ZIPF must be a Zipf exponent, got '$s'")))
    .getOrElse(0.7)
  val OrigFrac = 0.7
  val MutateP = 0.05

  private lazy val cum: Array[Double] = {
    val w = Array.tabulate(Vocab)(k => 1.0 / math.pow(k + 1.0, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).drop(1)
    val t = c.last
    c.map(_ / t)
  }

  /** Near-dup-structured Zipfian document corpus (honest, not rigged):
    * tokens drawn Zipf(0.7) from an 8k-word vocabulary — real text is
    * Zipfian, and moderately-hot shingles are exactly why the exact
    * shingle self-join is the documented 100 TB killer; 70% original docs
    * of 60 tokens, 30% near-dups mutating each token of an original with
    * p=0.05 (3-shingle survival 0.95³ ≈ 0.857 → Jaccard ≈ 0.75,
    * comfortably above the 0.5 verify threshold and at the concentration
    * the advisor prices).
    */
  def generateDocs(spark: SparkSession, n: Int, seed: Int = 13): String = {
    import spark.implicits._
    val nOrig = math.max(1, (n * OrigFrac).toInt)
    // distributed, deterministic per doc_id: a dup regenerates its base's
    // tokens from the base's seed, so no driver-side corpus materializes
    // (250k × 60 tokens stays executor-side; the driver ships only scalars).
    // Everything the lambda touches is a LOCAL copy — referencing the
    // enclosing object's members would drag the non-serializable object
    // into the task closure.
    val (cumL, vocab, docLen, mutP) = (cum, Vocab, DocLen, MutateP)
    val docs = spark.range(n).map { i =>
      def sampleWordL(r: scala.util.Random): String = {
        val u = r.nextDouble()
        val k = java.util.Arrays.binarySearch(cumL, u)
        "w" + (if (k >= 0) k else -k - 1)
      }
      def tokensOf(id: Long): Array[String] = {
        val r = new scala.util.Random(seed * 1000003L + id)
        Array.fill(docLen)(sampleWordL(r))
      }
      val text =
        if (i < nOrig) tokensOf(i).mkString(" ")
        else {
          val r = new scala.util.Random(seed * 7919L + i)
          tokensOf(i % nOrig)
            .map(t => if (r.nextDouble() < mutP) "w" + r.nextInt(vocab) else t)
            .mkString(" ")
        }
      (i, text)
    }.toDF("doc_id", "text")
    val dir = s"/tmp/graft_docs_crossover/n${n}_z${math.round(ZipfS * 100)}"
    docs.repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Boilerplate-prefix corpus — the realistic size-HETEROGENEOUS shape
    * for the size-ratio prefilter: every doc opens with the same 12-token
    * boilerplate (web headers, license banners), tails vary ~25–500
    * random tokens. Banding admits candidate pairs whose signatures are
    * dominated by the shared prefix — including pairs of very different
    * lengths, exactly the mass min/max ≥ θ rejects; a small mutated-copy
    * fraction keeps genuine survivors present. Contrast with the gate
    * corpus (planted near-dups of uniform length) where the bound can
    * only kill ~24%.
    */
  def generateBoilerplateDocs(spark: SparkSession, n: Int, seed: Int = 17): String = {
    import spark.implicits._
    val docs = spark.range(n).map { i =>
      val boiler = (0 until 12).map(j => s"b$j").mkString(" ")
      // every 10th doc is a mutated copy of a doc 1–9 back (same tail),
      // else a fresh tail whose length spans 25..500 — log-uniform so
      // short and long docs both appear in volume. The dup choice is
      // DETERMINISTIC arithmetic, not a per-id Random draw: consecutive
      // seeds give java.util.Random a badly non-uniform FIRST draw
      // (measured 0/990 firings at p=0.1), a silent way to generate a
      // corpus with no dups at all
      val base: Long = if (i >= 10 && i % 10 == 9) i - 1 - (i % 9) else i
      val rb = new scala.util.Random(seed * 7919L + base)
      val len = 25 + math.exp(rb.nextDouble() * math.log(476.0)).toInt
      val tail = Array.fill(len)("w" + rb.nextInt(20000))
      if (base != i) {
        val rm = new scala.util.Random(seed * 31L + i)
        tail.indices.foreach(j =>
          if (rm.nextDouble() < 0.03) tail(j) = "w" + rm.nextInt(20000))
      }
      (i, boiler + " " + tail.mkString(" "))
    }.toDF("doc_id", "text")
    val dir = s"/tmp/graft_boiler/n$n"
    docs.repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Dense-duplicate vector corpus — the embedding-side boilerplate
    * analogue (round 13; SCALE.md round 12 named it the symmetric
    * hazard): `hotFrac` of the n vectors are near-identical copies of ONE
    * unit center (σ=0.001 ⇒ pairwise cosine ≈ 1, far above any θ, so the
    * int8 prefilter keeps every hot pair BY VALUE), a `GenuineFrac` slice
    * sits in ordinary [[ClusterSize]]-vector clusters (σ=0.025, the
    * `generate` recipe — the planted TRUE near-dups whose survival the
    * cap must not cost), and the rest is uniform background. Every LSH
    * table puts the whole hot cluster in one bucket, so uncapped
    * candidate mass grows as (hotFrac·n)² — the quadratic hazard
    * `graft.sim.bucketcap.cosdedup` bounds — while the genuine clusters land in
    * small buckets the cap keeps.
    */
  val GenuineFrac = 0.3
  def generateDenseDupVectors(spark: SparkSession, n: Int, hotFrac: Double = 0.2,
      seed: Int = 23): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val nHot = (n * hotFrac).toInt
    val nGen = (n * GenuineFrac).toInt
    // centers via the shared [[randUnit]] draw (Float-quantized like every
    // stored embedding; the perturbations below widen to Double implicitly)
    val hotCenter = randUnit(rnd)
    val nClusters = math.max(1, nGen / ClusterSize)
    val centers = Array.fill(nClusters)(randUnit(rnd))
    // driver-side generation is model-state scale (~26 MB at 100k×64), the
    // generate() precedent
    val rows = (0 until n).map { i =>
      val v =
        if (i < nHot)
          Array.tabulate(Dim)(j => hotCenter(j) + 0.001 * rnd.nextGaussian())
        else if (i < nHot + nGen)
          Array.tabulate(Dim)(j => centers(i % nClusters)(j) + Sigma * rnd.nextGaussian())
        else Array.fill(Dim)(rnd.nextGaussian())
      (i.toLong, unit(v), i % NLabels)
    }
    val dir = s"/tmp/graft_densedup/n${n}_hot${math.round(hotFrac * 100)}"
    rows.toDF("vec_id", "embedding", "label")
      .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Exact planted genuine-pair count for [[generateDenseDupVectors]]'s
    * layout. The nGen genuine vectors are dealt to nClusters clusters by
    * consecutive-id modulus, so each cluster holds ⌊nGen/nClusters⌋ or
    * ⌈nGen/nClusters⌉ members — NOT exactly [[ClusterSize]] when it
    * doesn't divide nGen (a naive nClusters × C(ClusterSize,2) over- or
    * under-counts then, e.g. nGen=45 has C(45,2)=990 true pairs, not
    * 1,225). Lives next to the generator so the caponly recall
    * denominator can't drift from the corpus recipe.
    */
  def plantedGenuinePairs(n: Int): Long = {
    val nGen = (n * GenuineFrac).toInt
    val nClusters = math.max(1, nGen / ClusterSize)
    val (q, r) = ((nGen / nClusters).toLong, (nGen % nClusters).toLong)
    def c2(m: Long) = m * (m - 1) / 2
    r * c2(q + 1) + (nClusters - r) * c2(q)
  }

  /** The measurement ritual: warm once (codegen + shuffle-file setup out
    * of the measurement), then min of `passes` timed noop-writes. */
  def timed(passes: Int)(f: => Unit): Double = {
    f
    (1 to passes).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }
}

/** Deterministic listener-bus quiesce shared by the listener-based tools
  * (round 16 — r15 verdict #3: replaced fixed `Thread.sleep(2000)`
  * "settle" waits, which were both slow and, on a loaded box, not
  * actually sufficient). Determinism rides the same bus contract the
  * ccchain sentinel drain (round 15) established: every listener added
  * via `addSparkListener` shares ONE async queue whose dispatch thread
  * delivers each event to ALL listeners before the next event, so once
  * a sentinel job's JobEnd reaches the listener registered here, every
  * event posted before it — in particular every TaskEnd of jobs whose
  * actions already returned — has been delivered to every listener in
  * the queue. The sentinel is a single-partition RDD count — exactly ONE
  * job with one shuffle-free task, so the JobEnd latch is exact (no AQE
  * sub-jobs to race) and the sentinel contributes zero shuffle bytes.
  * Latching on JobEnd (not JobStart) also orders that one TaskEnd before
  * the latch release: a drain-then-CLEAR caller never sees it, and a
  * drain-then-read counter it would skew (per-stage lines in
  * `profile-stages`) excludes it by [[SentinelPrefix]]-keyed stage id. ccchain's
  * job-counting window latches through this drain too, excluding
  * sentinel JobStarts from its count by the same prefix.
  */
object BusDrain {
  /** Job-description prefix of every drain sentinel — counters that must
    * not observe the sentinel's own (single, sub-ms) task key off it:
    * JobStart is delivered before the sentinel's TaskEnd on the FIFO
    * bus, so a listener that registers the sentinel's stage ids at
    * JobStart can exclude its TaskEnd deterministically. */
  val SentinelPrefix = "graft-drain-sentinel-"
  private val seq = new AtomicLong
  def drain(spark: SparkSession): Unit = {
    val desc = SentinelPrefix + seq.incrementAndGet()
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      // JobStart and JobEnd arrive on the same dispatch thread, in post
      // order, so the id handoff needs no synchronization; real job ids
      // are non-negative, so the -1 init can never match
      @volatile private var sentinelJobId = -1
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .map(_.getProperty("spark.job.description")).orNull
        if (d == desc) sentinelJobId = j.jobId
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJobId) latch.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // save/restore, not set/clear: a caller that grouped its own jobs
      // under a description (Spark UI) must keep it across a drain
      // (r17 advice #1)
      val callerDesc =
        spark.sparkContext.getLocalProperty("spark.job.description")
      spark.sparkContext.setJobDescription(desc)
      // single-partition RDD count, NOT spark.range(1).count(): the SQL
      // count plans partial-agg → Exchange → final-agg over
      // leafNodeDefaultParallelism slices — ~33 tasks, real shuffle
      // bytes, and 2+ AQE jobs sharing the description, which both
      // contaminates byte counters and races a first-JobEnd latch
      // against the second job's events (round-16 review #1/#2). The
      // RDD count is exactly one job, one stage, one task, zero shuffle.
      try spark.sparkContext.parallelize(0 until 1, 1).count()
      finally spark.sparkContext.setJobDescription(callerDesc)
      require(latch.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the drain sentinel JobEnd within 60s")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** The measurement harness behind SCALE.md, consolidated (r9 verdict #5)
  * from 12 single-purpose mains into one entrypoint:
  *
  * {{{
  * sbt "runMain graft.tools.Harness <subcommand> [args...]"
  * }}}
  *
  * Subcommands (run with no args for this list):
  *  - `time-queries <name>...` — time registered queries across SF dirs
  *  - `scale [n...]` — replicate lineitem N× and time headline shapes
  *  - `sim-bucketcap [n,...] [hotFrac] [cap] [full|caponly] [shape]` — embedding-side bucket cap A/B
  *  - `cc-chain [n...]` — star-contraction rounds/wall on path graphs
  *  - `crossover [n...]` — exact↔banded crossover on clustered corpus
  *  - `probe [n] [shape,...] [bits...]` — multi-probe recall/cost frontier
  *  - `dedup-probe [n] [shape,...] [bits...]` — same for embedding dedup
  *  - `docs-crossover [n...]` — MinHash-route crossover on Zipfian docs
  *  - `profile-stages <query>...` — per-stage wall/tasks/shuffle bytes of one warmed run

  *
  * None of these are part of the driver contract; each subcommand's
  * scaladoc records WHAT question it answers and the SCALE.md round whose
  * numbers it produced. [[DumpPlans]] stays a separate main: it writes a
  * repo artifact (PLANS.md) rather than measuring.
  */
object Harness {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val subs: Seq[(String, String, Array[String] => Unit)] = Seq(
    ("time-queries", "<name>... — min-of-3 per query per SPARK_GRAFT_SF_DIRS dir", timeQueries),
    ("scale", "[n...] — lineitem ×1/2/4/8 scaling of headline shapes", scale),
    ("sim-bucketcap", "[n,...] [hotFrac] [cap] [full|caponly] [shape] — embedding-side bucket cap on the dense-dup corpus (shape default 8x10; MUST be corpus-matched or the cap empties the index)", simBucketcap),
    ("cc-chain", "[n...] — star-contraction rounds/wall on path graphs", ccChain),
    ("crossover", "[n...] — exact↔banded crossover, clustered corpus", crossover),
    ("probe", "[n] [shape,...] [bits...] — multi-probe frontier (same-label)", probe),
    ("dedup-probe", "[n] [shape,...] [bits...] — multi-probe frontier (cos dedup)", dedupProbe),
    ("docs-crossover", "[n...] — MinHash-route crossover, Zipfian docs", docsCrossover),
    ("profile-stages", "<query>... — per-stage wall/tasks/shuffle-bytes of one warmed run", profileStages))

  def main(args: Array[String]): Unit = args.headOption.flatMap(
      name => subs.find(_._1 == name)) match {
    case Some((_, _, run)) => run(args.tail)
    case None =>
      System.err.println("usage: runMain graft.tools.Harness <subcommand> [args...]")
      subs.foreach { case (n, help, _) => System.err.println(f"  $n%-15s $help") }
      if (args.nonEmpty) sys.error(s"unknown subcommand '${args.head}'")
  }

  /** Per-stage decomposition of a registered query (round 21): one warmup
    * pass, then one measured pass with a listener recording every stage's
    * wall, task count, summed executor run time, and shuffle bytes. The
    * round-21 fan-out A/B showed per-STAGE fixed overhead (~0.1 s at
    * local[32]/sf0.1) dominating several bench queries — this instrument
    * attributes each query's wall to stages so shuffle-removal work aims
    * at the expensive ones. Dir from SPARK_GRAFT_SF_DIR (default sf0.1);
    * queries in [[graft.Bench.banded]] run under the banded route like the
    * bench times them.
    */
  private def profileStages(args: Array[String]): Unit = {
    import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted}
    val spark = Session.local(appName = "profile-stages")
    spark.conf.set("graft.sums.exact", "false")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).count() // session warm
    val names =
      if (args.toSeq == Seq("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val banded = graft.Bench.banded.contains(name)
      // save-and-restore, not reset-to-"true" (ADVICE r21 #4): the dial was
      // unset before this tool ran, and clobbering it to a literal would
      // override a profile- or user-supplied default for the session's rest
      val priorExact = spark.conf.getOption("graft.sim.exact")
      if (banded) spark.conf.set("graft.sim.exact", "false")
      noop(fn(spark, dir)) // warm: codegen/JIT, like Bench's untimed pass
      // flush the warm pass's events BEFORE attaching: the async bus
      // dispatches to listeners present at DISPATCH time, so a backlog
      // would otherwise attribute warm-pass stages to the measured pass
      BusDrain.drain(spark)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val jobs = new AtomicLong(0)
      val sentinelStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val desc = Option(e.properties)
            .map(_.getProperty("spark.job.description")).getOrElse("")
          // the closing drain's own sentinel job must not count
          if (desc != null && desc.startsWith(BusDrain.SentinelPrefix)) {
            e.stageInfos.foreach(si => sentinelStages.add(si.stageId))
          } else jobs.incrementAndGet()
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          if (sentinelStages.contains(si.stageId)) return
          val wall = (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(-1L)
          val m = si.taskMetrics
          stages.add(f"  stage ${si.stageId}%3d ${si.numTasks}%4d tasks " +
            f"wall=${wall / 1e3}%6.3fs run=${m.executorRunTime / 1e3}%7.3fs " +
            f"sread=${m.shuffleReadMetrics.totalBytesRead}%9d " +
            f"swrite=${m.shuffleWriteMetrics.bytesWritten}%9d  ${si.name.takeWhile(_ != '\n')}")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      noop(fn(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      // deterministic drain (not a sleep): every measured-pass event is
      // delivered before the listener detaches, whatever the bus backlog
      BusDrain.drain(spark)
      spark.sparkContext.removeSparkListener(listener)
      if (banded) priorExact match {
        case Some(v) => spark.conf.set("graft.sim.exact", v)
        case None    => spark.conf.unset("graft.sim.exact")
      }
      println(f"PROFILE $name wall=$wall%.3fs jobs=${jobs.get}")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sorted.foreach(println)
    }
    spark.stop()
  }

  /** Time arbitrary registered queries across scale factors — the
    * per-operator scaling measurement behind SCALE.md's tables. Dirs come
    * from SPARK_GRAFT_SF_DIRS (comma-separated, default sf0.01,sf0.1).
    * Methodology matches Bench: noop sink, one warmup, min-of-3,
    * plain-double sums.
    */
  private def timeQueries(args: Array[String]): Unit = {
    val spark = Session.local(appName = "time-queries")
    spark.conf.set("graft.sums.exact", "false")
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SF_DIRS",
      "/root/testdata/sf0.01,/root/testdata/sf0.1").split(",").toSeq
    for (name <- args.toSeq; dir <- dirs) {
      val fn = graft.SparkEntry.queries(name)
      def run(): Double = {
        val t0 = System.nanoTime()
        noop(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      run() // warmup (codegen compile)
      val best = (1 to 3).map(_ => run()).min
      println(f"SEGMENT $name%-26s ${dir.split('/').last}%-8s min=$best%.2fs")
    }
    spark.stop()
  }

  /** Replicate the sf0.1 lineitem N× in memory (fresh orderkeys per copy
    * so join/group cardinalities scale too) and time the headline shapes
    * at 1×/2×/4×/8×. If a plan's time grows ~linearly (n log n for sort)
    * the shape holds as data outgrows any single partition — the local
    * proxy for the 100 TB claim (SCALE.md round 2).
    */
  private def scale(args: Array[String]): Unit = {
    val spark = Session.local(appName = "profile-scale")
    spark.conf.set("graft.sums.exact", "false")
    import spark.implicits._
    val dir = "/root/testdata/sf0.1"
    val li = Tables.lineitem(spark, dir)
    val maxKey = li.agg(max($"l_orderkey")).as[Long].head() + 1
    def lineitemX(n: Int): DataFrame =
      (0 until n).map { i =>
        li.withColumn("l_orderkey", $"l_orderkey" + lit(i * maxKey))
      }.reduce(_ unionByName _)
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4, 8)
    sizes.foreach { n =>
      val l = lineitemX(n)
      val rows = l.count()
      val tQ1 = Corpora.timed(1) {
        noop(l.filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(sum($"l_quantity"), sum($"l_extendedprice" * (lit(1.0) - $"l_discount")),
            count(lit(1))))
      }
      val tSort = Corpora.timed(1) {
        noop(l.select($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
          .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber"))
      }
      val tAgg = Corpora.timed(1) {
        noop(l.groupBy($"l_orderkey")
          .agg(count(lit(1)).as("nl"), sum($"l_extendedprice").as("s")))
      }
      println(f"SCALE x$n rows=$rows q1=$tQ1%.2fs sort=$tSort%.2fs agg_by_key=$tAgg%.2fs")
    }
    spark.stop()
  }

  /** Round 13 (r12 verdict #2): measure the embedding-side quadratic
    * bucket and the `graft.sim.bucketcap.cosdedup` dial on the dense-duplicate
    * corpus ([[Corpora.generateDenseDupVectors]]). For each size: the
    * UNCAPPED banded candidate count (total + the slice among the planted
    * GENUINE clusters — the recall mass the cap must not cost), the
    * capped counts, and the capped `dedup_embedding_cosine` wall. Arg 3
    * selects a mode: `full` additionally runs the uncapped full dedup
    * (float-verify over the quadratic mass — the JVM-killing leg at
    * scale, by the minhash precedent); `caponly` SKIPS the uncapped
    * count leg entirely (past ~100k vectors its pre-distinct shuffle is
    * quadratic in scratch DISK — measured fatal at 200k on a ~78 GB
    * disk) and reports genuineKept against
    * [[Corpora.plantedGenuinePairs]] instead — an absolute recall bound
    * that includes banding loss. Arg 4 is the band shape. In the default
    * A/B, genuine-slice equality capped ≡ uncapped is the
    * zero-recall-loss evidence: genuine clusters live in ~50-vector
    * buckets far below any sane cap.
    */
  private def simBucketcap(args: Array[String]): Unit = {
    val spark = Session.local(appName = "sim-bucketcap")
    import spark.implicits._
    val sizes = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(20000, 50000))
    val hotFrac = args.lift(1).map(_.toDouble).getOrElse(0.2)
    val cap = args.lift(2).map(_.toInt).getOrElse(512)
    // `caponly` (arg 3): skip the uncapped count leg entirely. Past
    // ~100k vectors the uncapped candidate mass is quadratic in DISK as
    // well as time — measured 2026-08-15: at 200k (hot 40k) the
    // pre-distinct shuffle (~8B pairs across 10 tables) filled this
    // box's ~78 GB scratch after 41 min and killed the job with "No
    // space left on device". genuineKept is then reported against
    // Corpora.plantedGenuinePairs instead of the unmeasurable uncapped
    // genuine slice — an absolute recall bound (banding loss included)
    // rather than the cap-only relative one. A typo'd mode must fail
    // HERE, not fall through to the disk-filling uncapped leg.
    val mode = args.lift(3)
    require(mode.forall(Set("full", "caponly")),
      s"arg 3 must be 'full' or 'caponly', got '${mode.get}'")
    val runFull = mode.contains("full")
    val capOnly = mode.contains("caponly")
    // CORPUS-MATCHED shape (arg 4, default 8x10 = 1024 buckets/table):
    // the cap presumes bucket count ≫ corpus/cap — at the gate's 8×4
    // there are only 2⁴ buckets per table, so past ~cap×16 vectors EVERY
    // bucket is over-cap and the index empties (measured: candidates=0
    // at 20k docs, cap 512, 8×4). That is SCALE.md round 6's "bucket
    // count must exceed cluster count" rule biting the cap dial too;
    // BandTuner.suggest picks the matched shape a deployment would run.
    val shape = args.lift(4).getOrElse("8x10")
    val (tables, planes) = (shape.split("x")(0).toInt, shape.split("x")(1).toInt)
    spark.conf.set("graft.sim.exact", "false")
    spark.conf.set("graft.sim.bands.cosdedup", shape)
    for (n <- sizes) {
      val dir = Corpora.generateDenseDupVectors(spark, n, hotFrac)
      val (gLo, gHi) = ((n * hotFrac).toLong, (n * hotFrac).toLong + (n * Corpora.GenuineFrac).toLong)
      // a candidate pair is PLANTED iff both ids are genuine AND sit in
      // the same generator cluster (consecutive-id modulus — the
      // generateDenseDupVectors layout). The caponly recall bound divides
      // by plantedGenuinePairs, so its numerator must count the same
      // population: the previous genuine-RANGE numerator also counted
      // cross-cluster band collisions, letting the printed "absolute
      // recall bound" exceed 1.0 (round-14 advice #2). Same-cluster
      // candidate pairs are a subset of planted pairs, so the fixed
      // bound is ≤ 1.0 by construction.
      val nClusters = math.max(1, (n * Corpora.GenuineFrac).toInt / Corpora.ClusterSize)
      def counts(): (Long, Long, Long) = {
        // the cosdedup route's exact candidate shape (θ=0.9 int8
        // prefilter), counted without the float verify so the uncapped
        // quadratic mass is measurable without the JVM-killing join
        val c = SimilarityOps.lshCandidateIds(spark, dir, nTables = tables,
          planesPerTable = planes, prefilterTheta = Some(DedupOps.CosDedupThreshold),
          capKey = "cosdedup")
        val genuine = $"v1" >= gLo && $"v1" < gHi && $"v2" >= gLo && $"v2" < gHi
        val r = c.agg(count(lit(1)), count(when(genuine, 1)),
          count(when(genuine && $"v1" % nClusters === $"v2" % nClusters, 1))).head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      def dedupWall(label: String): Unit = {
        val t = Corpora.timed(2)(noop(DedupOps.embeddingCosineDedup(spark, dir)))
        println(f"SIMCAP n=$n%7d hot=${(n * hotFrac).toInt}%6d shape=$shape $label dedup wall min=$t%.2fs")
      }
      spark.conf.unset("graft.sim.bucketcap.cosdedup")
      val genU: Long = if (capOnly) {
        val denom = Corpora.plantedGenuinePairs(n)
        println(f"SIMCAP n=$n%7d hot=${(n * hotFrac).toInt}%6d shape=$shape cap=off SKIPPED (caponly); planted genuine pairs=$denom%,9d")
        denom
      } else {
        val (allU, g, _) = counts()
        println(f"SIMCAP n=$n%7d hot=${(n * hotFrac).toInt}%6d shape=$shape cap=off candidates=$allU%,12d genuine=$g%,9d")
        if (runFull) dedupWall("cap=off")
        g
      }
      spark.conf.set("graft.sim.bucketcap.cosdedup", cap.toString)
      val (allC, genC, plantedC) = counts()
      // caponly: absolute bound, planted numerator over planted denominator
      // (≤ 1.0); full A/B: relative like-for-like, capped genuine-range
      // collisions over uncapped genuine-range collisions
      val kept = if (capOnly) plantedC else genC
      println(f"SIMCAP n=$n%7d hot=${(n * hotFrac).toInt}%6d shape=$shape cap=$cap candidates=$allC%,12d genuine=$genC%,9d " +
        f"genuineKept=${if (genU == 0) 1.0 else kept.toDouble / genU}%.4f${if (capOnly) " (planted/planted)" else ""}")
      dedupWall(s"cap=$cap")
      spark.conf.unset("graft.sim.bucketcap.cosdedup")
    }
    spark.stop()
  }

  /** Round 12: measure the star-contraction round count and wall on PATH
    * graphs — the adversarial shape for label propagation (diameter = n−1,
    * which the old 25-round min-label loop silently fractured past n=26).
    * Alternating large-star/small-star must close any path in O(log n)
    * rounds with per-round cost linear in edges; this prints both so the
    * 100 TB extrapolation (rounds grow by +1 per doubling, each round is
    * two id-width shuffles) is a measured line, not a citation.
    */
  private def ccChain(args: Array[String]): Unit = {
    val spark = Session.local(appName = "cc-chain")
    import spark.implicits._
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(1000, 10000, 100000, 1000000)
    // driver-action counter: the r12 loop ran ~4 jobs/round (eager
    // checkpoint, count, except's two); the r13 fold targets 1/round +
    // a final-round equality probe. Counted over the contraction only
    // (the label-count job below runs outside the window).
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .map(_.getProperty("spark.job.description")).orNull
        // BusDrain sentinels are excluded from the job count by their
        // description prefix; everything else in the window counts
        if (desc == null || !desc.startsWith(BusDrain.SentinelPrefix))
          jobs.incrementAndGet()
      }
    })
    // DETERMINISTIC listener drain (round 15, r14 advice #5 — the old
    // Thread.sleep(300) could undercount jobs/round on a loaded box),
    // consolidated onto the shared BusDrain (round-16 review #6: two
    // copies of the sentinel protocol drifted apart within one file).
    // BusDrain latches on the sentinel's JobEnd, which is posted after
    // its JobStart — so once drain() returns, every JobStart posted
    // before it has reached the counting listener above (FIFO per
    // event across all listeners in the shared queue).
    def drainJobStarts(): Unit = BusDrain.drain(spark)
    for (n <- sizes) {
      val nodes = spark.range(n).select($"id".as("doc_id"))
      val pairs = spark.range(n - 1).select($"id".as("d1"), ($"id" + 1).as("d2"))
      // drain BEFORE capturing j0 too: the previous iteration's
      // label-count verification job posts its JobStart events after that
      // iteration's drain, and under bus lag they would otherwise land
      // inside THIS window and inflate its jobs/round (round-15 review)
      drainJobStarts()
      val t0 = System.nanoTime()
      val j0 = jobs.get()
      val (labels, rounds) = DedupOps.starComponents(nodes, pairs)
      // wall covers the contraction only — captured BEFORE the listener
      // drain and the label-count verification job (the round-13 review
      // caught both riding inside the reported wall; the recorded
      // r12-vs-r13 A/B carried the same constant on both arms, so its
      // ratios stand, but absolute walls read ~0.3 s + one count high)
      val wall = (System.nanoTime() - t0) / 1e9
      drainJobStarts()
      val nJobs = jobs.get() - j0
      val distinctLabels = labels.select($"label").distinct().count()
      println(f"CCCHAIN n=$n%8d diameter=${n - 1}%8d rounds=$rounds%3d " +
        f"components=$distinctLabels jobs=$nJobs%3d (${nJobs.toDouble / math.max(rounds, 1)}%.1f/round) " +
        f"wall=$wall%.2fs")
      assert(distinctLabels == 1, s"path graph fractured: $distinctLabels components")
    }
    spark.stop()
  }

  /** Crossover experiment: measure where the banded-LSH routes BEAT the
    * exact all-pairs baselines, and at what recall, on the clustered
    * corpus ([[Corpora.generate]]) at 10–50× the gate's vector count.
    * Banded shape under test: [[Corpora.Bands]]. Fairness: exact gets a
    * 256 MB broadcast threshold so its all-pairs join broadcasts the full
    * corpus instead of degrading to a partitioned cartesian product (or,
    * at 250k vectors, to a sort-merge join whose per-key group buffering
    * spills tens of GB). Results recorded in SCALE.md rounds 5–7.
    */
  private def crossover(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(20000, 50000)
    val spark = Session.local(appName = "profile-crossover")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256L << 20).toString)
    import spark.implicits._
    val queries = Seq[(String, String => DataFrame)](
      "pairs_threshold" -> (d => SimilarityOps.pairsAboveThreshold(spark, d)),
      "nearest_same_label" -> (d => SimilarityOps.nearestSameLabel(spark, d)),
      "embedding_cosine" -> (d => DedupOps.embeddingCosineDedup(spark, d)))
    for (n <- sizes) {
      val dir = Corpora.generate(spark, n)
      val bands = Corpora.resolveBands(spark, dir)
      println(s"CROSSOVER corpus n=$n dir=$dir bands=$bands")
      for ((name, build) <- queries) {
        spark.conf.set("graft.sim.exact", "true")
        Seq("pairs", "samelabel", "cosdedup")
          .foreach(k => spark.conf.set(s"graft.sim.bands.$k", bands))
        val tExact = Corpora.timed(2)(noop(build(dir)))
        val exact = build(dir).localCheckpoint() // pin the exact answer for recall
        spark.conf.set("graft.sim.exact", "false")
        val tBanded = Corpora.timed(2)(noop(build(dir)))
        val bandedDf = build(dir).localCheckpoint()
        val recall = name match {
          case "pairs_threshold" =>
            val nExact = exact.count()
            val found = exact.select($"v1", $"v2")
              .join(bandedDf.select($"v1", $"v2"), Seq("v1", "v2"), "left_semi").count()
            // the loose 0.4 threshold is LSH's hard case: collision
            // probability for a pair AT the threshold is only ~0.16 per
            // 8-plane table, so misses concentrate just above 0.4 — report
            // recall on confident pairs (cos >= 0.6) separately to show it
            val conf = exact.filter($"cos" >= 0.6)
            val nConf = conf.count()
            val foundConf = conf.select($"v1", $"v2")
              .join(bandedDf.select($"v1", $"v2"), Seq("v1", "v2"), "left_semi").count()
            println(f"CROSSOVER n=$n pairs_threshold      " +
              f"recall_conf(cos>=0.6)=${foundConf.toDouble / math.max(nConf, 1)}%.4f " +
              f"over $nConf confident pairs")
            found.toDouble / math.max(nExact, 1)
          case "nearest_same_label" =>
            // a hit = banded's neighbor is as close as exact's (id may
            // differ on cosine ties); a vector banded has NO row for is a miss
            val j = exact.select($"vec_id", $"cos".as("c_ex"))
              .join(bandedDf.select($"vec_id", $"cos".as("c_b")), Seq("vec_id"), "left")
            j.filter($"c_b" >= $"c_ex" - 1e-6).count().toDouble / math.max(exact.count(), 1)
          case _ => // embedding_cosine: canonical assignment agreement
            val j = exact.select($"vec_id", $"canonical_id".as("ce"))
              .join(bandedDf.select($"vec_id", $"canonical_id".as("cb")), Seq("vec_id"), "left")
            j.filter($"cb" === $"ce").count().toDouble / math.max(exact.count(), 1)
        }
        println(f"CROSSOVER n=$n $name%-20s exact=$tExact%7.2fs banded=$tBanded%7.2fs " +
          f"speedup=${tExact / tBanded}%5.2fx recall=$recall%.4f")
      }
    }
    spark.stop()
  }

  /** Multi-probe LSH measurement (round 7): does query-side probing lift
    * same-label top-1 recall from the measured 0.86–0.88 (SCALE.md round
    * 6, "isolated-vector LSH physics") toward ≥0.95 at ≤2× the unprobed
    * banded time? Runs `nearest_same_label` on the crossover corpus:
    * exact once (baseline + truth), then banded at the corpus-matched
    * shape with probeBits swept, reporting wall time, top-1 recall, and
    * the advisor's predicted recall for each setting. Several
    * comma-separated shapes share one exact baseline measurement.
    */
  private def probe(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val shapes = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CROSSOVER_BANDS", "8x10"))
      .toLowerCase.split(",").map(_.trim).toSeq
    val bits = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(0, 1, 2, 4)
    val spark = Session.local(appName = "profile-probe")
    // 256 MB: keep the exact baseline on its best (broadcast-hash) plan at
    // 250k+ vectors — at 64 MB the ~70 MB embedding side flipped to a
    // sort-merge join whose per-key group buffering spilled >50 GB (r7)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256L << 20).toString)
    import spark.implicits._
    val dir = Corpora.generate(spark, n)
    println(s"PROBE corpus n=$n shapes=${shapes.mkString(",")} dir=$dir")
    def run(): Unit = noop(SimilarityOps.nearestSameLabel(spark, dir))
    // debug: print the exact query's plan and exit (no execution)
    if (sys.env.contains("SPARK_GRAFT_PROBE_EXPLAIN")) {
      spark.conf.set("graft.sim.exact", "true")
      SimilarityOps.nearestSameLabel(spark, dir).explain("formatted")
      spark.stop(); return
    }
    // exact truth: timed like the banded runs, pinned for recall.
    // SPARK_GRAFT_PROBE_EXACT_PASSES trims the exact timing loop at big n
    // (250k exact is ~minutes per pass; the banded-shape comparison is the
    // point there, exact is baseline + truth)
    val exactPasses = sys.env.get("SPARK_GRAFT_PROBE_EXACT_PASSES")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(2)
    spark.conf.set("graft.sim.exact", "true")
    val tExact = Corpora.timed(exactPasses)(run())
    val exact = SimilarityOps.nearestSameLabel(spark, dir).localCheckpoint()
    val nExact = math.max(exact.count(), 1L)
    println(f"PROBE n=$n exact=$tExact%7.2fs rows=$nExact")
    spark.conf.set("graft.sim.exact", "false")
    // the measurement sweeps rescue floors whose unresolved fraction
    // exceeds the production refusal knob (the 15%-background corpus at
    // rescue 0.6 unresolves ~15% — exactly what the round-8 guard
    // refuses by default); accept everything here so the sweep can PRICE
    // those configurations. Past BroadcastSafeRescueFrac the engine
    // routes them through the shuffled rescue join, so the timings below
    // are the post-guard production path for fat tails.
    spark.conf.set("graft.sim.rescue.maxfrac.samelabel", "1.0")
    val rescues = sys.env.getOrElse("SPARK_GRAFT_PROBE_RESCUE", "0,0.8")
      .split(",").map(_.trim.toDouble).toSeq
    for (shape <- shapes; m0 <- bits) {
      // "auto" = the advisor picks the shape for THIS corpus and probe
      // setting (round 7, task: crossover rows where the shape came from
      // suggest, not a human); hoisted above the rescue loop — the advice
      // depends only on (shape, bits)
      val (t, p) =
        if (shape == "auto") {
          val a = BandTuner.suggest(spark, dir, threshold = 0.96, probeBits = m0)
          println(f"PROBE advisor n=$n bits=$m0 shape=${a.shape} " +
            f"predRecall=${a.predictedRecall}%.4f " +
            f"predSpeedup=${a.predictedSpeedup}%.1fx recommend=${a.recommendBanded}")
          (a.nTables, a.planesPerTable)
        } else {
          val Array(t0, p0) = shape.split("x").map(_.trim.toInt)
          (t0, p0)
        }
      // clamp like the production knob does — a bits value past this
      // shape's planes would otherwise measure the clamped route but then
      // throw from pairRecallProbed AFTER the expensive timed run
      val m = math.min(m0, p)
      for (r <- rescues) {
        spark.conf.set("graft.sim.bands.samelabel", s"${t}x$p")
        spark.conf.set("graft.sim.probe.samelabel", m.toString)
        spark.conf.set("graft.sim.rescue.samelabel", r.toString)
        val tBanded = Corpora.timed(2)(run())
        val bandedDf = SimilarityOps.nearestSameLabel(spark, dir).localCheckpoint()
        // a hit = banded's neighbor is as close as exact's (id may differ
        // on ties); a vector banded has NO row for is a miss — same rule
        // as the crossover subcommand
        val j = exact.select($"vec_id", $"cos".as("c_ex"))
          .join(bandedDf.select($"vec_id", $"cos".as("c_b")), Seq("vec_id"), "left")
          .withColumn("hit", ($"c_b" >= $"c_ex" - 1e-6).cast("long"))
          .localCheckpoint()
        val recall = j.agg(sum($"hit")).head.getLong(0).toDouble / nExact
        // recall by population: vec_id < nBg are the uniform background (no
        // cluster to share a bucket with — LSH's hard case), the rest
        // clustered. The split shows WHERE the misses live.
        val nBg = (n * Corpora.BgFrac).toInt
        val Seq((bgHit, bgN), (clHit, clN)) = Seq(
          j.filter($"vec_id" < nBg), j.filter($"vec_id" >= nBg))
          .map(d => (d.agg(coalesce(sum($"hit"), lit(0L))).head.getLong(0),
            math.max(d.count(), 1L)))
        // the advisor's floor for this setting: price recall at the cosine
        // where the corpus's true nearest neighbors actually sit (the
        // clustered corpus concentrates same-cluster NNs near 1 - sigma²
        // ≈ 0.97; isolated/background vectors sit much lower, which is the
        // regime probing targets — print both ends)
        val predTight = BandTuner.pairRecallProbed(0.97, t, p, m)
        val predLoose = BandTuner.pairRecallProbed(0.60, t, p, m)
        println(f"PROBE n=$n shape=${t}x$p bits=$m rescue=$r%.2f banded=$tBanded%7.2fs " +
          f"xSlower=${tBanded / tExact}%5.3f " +
          f"speedup=${tExact / tBanded}%5.2fx recall=$recall%.4f " +
          f"recall_bg=${bgHit.toDouble / bgN}%.4f(n=$bgN) " +
          f"recall_clustered=${clHit.toDouble / clN}%.4f " +
          f"pred(0.97)=$predTight%.4f pred(0.60)=$predLoose%.4f")
      }
    }
    spark.stop()
  }

  /** Probe-knob frontier for the EMBEDDING-DEDUP route (round 8): the
    * `graft.sim.probe.cosdedup` knob shipped in round 7 wired but
    * unmeasured. Measures `dedup_embedding_cosine` on the crossover
    * corpus: exact all-pairs once (baseline + truth), then banded at
    * gate/advisor shapes with probeBits swept, reporting wall time, PAIR
    * recall over the true ≥0.9-cosine pairs, ROW agreement on the
    * user-visible output, the advisor's prediction, and the headroom a
    * rescue analogue COULD buy (dedup has no per-row confidence signal —
    * the only rescuable population is vectors with ZERO banded
    * candidates; counting those with a true neighbor bounds any
    * no-candidate rescue tier's recall gain).
    */
  private def dedupProbe(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val shapes = args.lift(1).getOrElse("8x4,auto")
      .toLowerCase.split(",").map(_.trim).toSeq
    val bits = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(0, 1, 2)
    val spark = Session.local(appName = "profile-dedup-probe")
    // same setting as probe: keep the exact baseline on its best plan (the
    // broadcast nested-loop theta-join over the ~26 MB corpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256L << 20).toString)
    import spark.implicits._
    val dir = Corpora.generate(spark, n)
    println(s"DEDUPPROBE corpus n=$n shapes=${shapes.mkString(",")} dir=$dir")
    def run(): Unit = noop(DedupOps.embeddingCosineDedup(spark, dir))
    // exact truth, timed like the banded runs. The exact route is the full
    // n² theta-join (no label to slice by), so passes default to 1 at big n
    val exactPasses = sys.env.get("SPARK_GRAFT_DEDUPPROBE_EXACT_PASSES")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(1)
    spark.conf.set("graft.sim.exact", "true")
    val tExact = Corpora.timed(exactPasses)(run())
    val exactRows = DedupOps.embeddingCosineDedup(spark, dir).localCheckpoint()
    // true neighbor-pair set (v1 < v2, cos ≥ 0.9, self excluded) — the
    // recall denominator. Derived once from the same theta-join the exact
    // route uses.
    val e = Tables.embeddings(spark, dir)
    graft.plans.GraftFunctions.register(spark)
    val truePairs = e.select($"vec_id".as("v1"), $"embedding".as("e1"))
      .join(e.select($"vec_id".as("v2"), $"embedding".as("e2")), $"v1" < $"v2")
      .filter(expr("cosine_sim(e1, e2)") >= 0.9)
      .select($"v1", $"v2").localCheckpoint()
    val nTrue = math.max(truePairs.count(), 1L)
    val nRows = math.max(exactRows.count(), 1L)
    println(f"DEDUPPROBE n=$n exact=$tExact%7.2fs truePairs=$nTrue rows=$nRows")
    spark.conf.set("graft.sim.exact", "false")
    for (shape <- shapes; m0 <- bits) {
      val (t, p) =
        if (shape == "auto") {
          // threshold 0.9 = the route's verify filter AND where this
          // corpus's true pairs sit (clusters at σ=0.025 concentrate
          // within-cluster cosines ≈ 0.96+; 0.9 is the conservative floor)
          val a = BandTuner.suggest(spark, dir, threshold = 0.9, probeBits = m0)
          println(f"DEDUPPROBE advisor n=$n bits=$m0 shape=${a.shape} " +
            f"predRecall=${a.predictedRecall}%.4f " +
            f"predSpeedup=${a.predictedSpeedup}%.1fx recommend=${a.recommendBanded}")
          (a.nTables, a.planesPerTable)
        } else {
          val Array(t0, p0) = shape.split("x").map(_.trim.toInt)
          (t0, p0)
        }
      val m = math.min(m0, p)
      spark.conf.set("graft.sim.bands.cosdedup", s"${t}x$p")
      spark.conf.set("graft.sim.probe.cosdedup", m.toString)
      val tBanded = Corpora.timed(2)(run())
      // pair recall: candidates that survive the exact ≥0.9 verify filter,
      // against the true pair set (candidates are v1<v2-canonical already)
      val cand = SimilarityOps.lshCandidateIds(spark, dir,
          nTables = t, planesPerTable = p, probeBits = m)
        .join(e.select($"vec_id".as("v1"), $"embedding".as("e1")), Seq("v1"))
        .join(e.select($"vec_id".as("v2"), $"embedding".as("e2")), Seq("v2"))
        .filter(expr("cosine_sim(e1, e2)") >= 0.9)
        .select($"v1", $"v2").localCheckpoint()
      val found = truePairs.join(cand, Seq("v1", "v2"), "left_semi").count()
      // row agreement: the user-visible output (canonical + dup count)
      val bandedRows = DedupOps.embeddingCosineDedup(spark, dir)
      val agree = exactRows.join(bandedRows,
        Seq("vec_id", "canonical_id", "n_near_dups"), "left_semi").count()
      // rescue headroom: vectors with NO banded candidate but a true pair.
      // (candidates count a vector on either side; orphans touch neither)
      val touched = cand.select($"v1".as("v")).union(cand.select($"v2".as("v"))).distinct()
      val withTrue = truePairs.select($"v1".as("v"))
        .union(truePairs.select($"v2".as("v"))).distinct()
      val rescuable = withTrue.join(touched, Seq("v"), "left_anti").count()
      val predTight = BandTuner.pairRecallProbed(0.96, t, p, m)
      val predFloor = BandTuner.pairRecallProbed(0.90, t, p, m)
      println(f"DEDUPPROBE n=$n shape=${t}x$p bits=$m banded=$tBanded%7.2fs " +
        f"speedup=${tExact / tBanded}%5.2fx " +
        f"pairRecall=${found.toDouble / nTrue}%.4f " +
        f"rowAgree=${agree.toDouble / nRows}%.4f " +
        f"rescuableVecs=$rescuable " +
        f"pred(0.96)=$predTight%.4f pred(0.90)=$predFloor%.4f")
    }
    spark.stop()
  }

  /** Document-side (MinHash) crossover measurement — round 7's answer to
    * the round-6 gap "the MinHash banded route's only win is at 5k
    * documents". Generates the Zipfian corpus ([[Corpora.generateDocs]])
    * at 10–50× the sf0.1 document count, A/Bs exact n-gram Jaccard
    * against the banded MinHash route through the REAL `ngramJaccard`
    * knob, and validates [[BandTuner.suggestMinhash]]'s sampled
    * candidate-fraction prediction against the measured candidate count.
    */
  private def docsCrossover(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(50000, 250000)
    val spark = Session.local(appName = "profile-docs-crossover")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    import spark.implicits._
    for (n <- sizes) {
      val dir = Corpora.generateDocs(spark, n)
      println(s"DOCSX corpus n=$n dir=$dir")
      // the advisor first: what shape would a deployment be told, and what
      // candidate fraction does it predict from its 10k-doc sample?
      val advice = BandTuner.suggestMinhash(spark, dir, jaccard = 0.75)
      println(f"DOCSX n=$n advice shape=${advice.shape} " +
        f"predRecall=${advice.predictedRecall}%.4f " +
        f"predFrac=${advice.candidateFraction}%.6f " +
        f"predSpeedup=${advice.predictedSpeedup}%.1fx " +
        f"recommend=${advice.recommendBanded}")
      def run(): Unit = noop(DedupOps.ngramJaccard(spark, dir))
      // SPARK_GRAFT_DOCSX_SKIP_EXACT: banded-only legs for corpora whose
      // exact self-join cannot finish (the Zipf-1.0 250k corpus spilled
      // past the disk budget — that explosion IS the measurement); recall
      // is then unavailable and printed as -1
      val skipExact = sys.env.contains("SPARK_GRAFT_DOCSX_SKIP_EXACT")
      val (tExact, exactOpt) =
        if (skipExact) (Double.NaN, None)
        else {
          spark.conf.set("graft.sim.exact", "true")
          val t = Corpora.timed(2)(run())
          (t, Some(DedupOps.ngramJaccard(spark, dir).localCheckpoint()))
        }
      val nExact = exactOpt.map(e => math.max(e.count(), 1L)).getOrElse(1L)
      // the advised shape, plus the gate's recall-heavy 8x2 for contrast
      for (shape <- Seq(advice.shape, "8x2").distinct) {
        spark.conf.set("graft.sim.exact", "false")
        spark.conf.set("graft.sim.bands.minhash", shape)
        val tBanded = Corpora.timed(2)(run())
        val bandedDf = DedupOps.ngramJaccard(spark, dir).localCheckpoint()
        val found = exactOpt.map(e => e.select($"d1", $"d2")
          .join(bandedDf.select($"d1", $"d2"), Seq("d1", "d2"), "left_semi").count())
          .getOrElse(-1L)
        // advisor validation: measured candidate fraction at this shape vs
        // the sample-predicted one (for the advised shape). The advisor
        // prices RAW bucket mass, so count with the size-ratio prefilter
        // off — prefiltered counts would read as spurious prediction error
        // on a size-heterogeneous corpus (r11 review finding)
        spark.conf.set("graft.sim.prefilter", "false")
        val nCand =
          try DedupOps.minhashCandidatesPlan(spark, dir).count()
          finally spark.conf.unset("graft.sim.prefilter")
        val allPairs = n.toDouble * (n - 1) / 2
        println(f"DOCSX n=$n shape=$shape%-5s exact=$tExact%8.2fs banded=$tBanded%8.2fs " +
          f"speedup=${tExact / tBanded}%5.2fx recall=${found.toDouble / nExact}%.4f " +
          f"pairs=$nExact")
        println(f"DOCSX n=$n shape=$shape%-5s advisor-validation " +
          f"measuredFrac=${nCand / allPairs}%.6f " +
          f"predictedFrac=${advice.candidateFraction}%.6f " +
          f"candidates=$nCand")
        spark.conf.unset("graft.sim.bands.minhash")
      }
      spark.conf.set("graft.sim.exact", "true")
    }
    spark.stop()
  }
}
