package graft.tools

import graft.core.{Knobs, Session}
import graft.functions.{BandTuner, DedupOps, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * adversarial stress tail.
    */
  val BgFrac = 0.15
  val ClusterSize = 50
  val NLabels = 8

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
    val dir = s"/tmp/graft_crossover/n$n"
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

/** The measurement harness behind SCALE.md, consolidated (r9 verdict #5)
  * from 12 single-purpose mains into one entrypoint:
  *
  * {{{
  * sbt "runMain graft.tools.Harness <subcommand> [args...]"
  * }}}
  *
  * Subcommands (run with no args for this list):
  *  - `time-queries <name>...` — time registered queries across SF dirs
  *  - `docs-crossover [n...]` — MinHash-route crossover on Zipfian docs
  *  - `profile-stages <query>...` — per-stage wall/tasks/shuffle bytes of one warmed run
  *
  * None of these are part of the driver contract; each subcommand's
  * scaladoc records WHAT question it answers and the SCALE.md round whose
  * numbers it produced. [[DumpPlans]] stays a separate main: it writes a
  * repo artifact (PLANS.md) rather than measuring.
  */
object Harness {

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val subs: Seq[(String, String, Array[String] => Unit)] = Seq(
    ("time-queries", "<name>... — min-of-3 per query per SPARK_GRAFT_SF_DIRS dir", timeQueries),
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
    * pass, then one measured pass read through [[BusDrain.jobsAndStagesOf]],
    * printing every stage's wall, task count, summed executor run time,
    * summed and largest task CPU time, shuffle bytes and operator scopes
    * ([[stageLabel]]), then each banded pairing's metrics (groups, pairs
    * tested, canonical pairs, output rows). The
    * round-21 fan-out A/B showed per-STAGE fixed overhead (~0.1 s at
    * local[32]/sf0.1) dominating several bench queries — this instrument
    * attributes each query's wall to stages so shuffle-removal work aims
    * at the expensive ones. Dir from SPARK_GRAFT_SF_DIR (default sf0.1);
    * queries in [[graft.Bench.banded]] run under the banded route like the
    * bench times them.
    */
  private def profileStages(args: Array[String]): Unit = {
    val spark = Session.local(appName = "profile-stages")
    spark.conf.set(Knobs.SumsExact.key, "false")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).count() // session warm
    val names =
      if (args.toSeq == Seq("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val overrides =
        if (graft.Bench.banded.contains(name)) Seq(Knobs.SimExact.key -> "false") else Nil
      var wall = 0.0
      val maxCpu = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      // the nodes, not their values: a lazy localCheckpoint's plan is
      // reported when the frame is built, before its job has run
      val pairings = new java.util.concurrent.ConcurrentLinkedQueue[graft.plans.BandPairsExec]()
      val onPlan = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = Plans.collect(qe.executedPlan) {
          case b: graft.plans.BandPairsExec => pairings.add(b)
        }
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      val (jobs, stages) = Knobs.withConf(spark, overrides: _*) {
        noop(fn(spark, dir)) // warm: codegen/JIT, like Bench's untimed pass
        try BusDrain.jobsAndStagesOf(spark, t => Option(t.taskMetrics).foreach(m =>
            maxCpu.merge(t.stageId, m.executorCpuTime, (a, b) => math.max(a, b)))) {
          // registered after the drain: the warm pass's event, delivered
          // late, would otherwise print its pairing a second time
          spark.listenerManager.register(onPlan)
          val t0 = System.nanoTime()
          noop(fn(spark, dir))
          wall = (System.nanoTime() - t0) / 1e9
        } finally spark.listenerManager.unregister(onPlan)
      }
      println(f"PROFILE $name wall=$wall%.3fs jobs=$jobs stages=${stages.size}")
      stages.sortBy(_.stageId).foreach { si =>
        val stageWall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        println(f"  stage ${si.stageId}%3d ${si.numTasks}%4d tasks " +
          f"wall=${stageWall / 1e3}%6.3fs run=${m.executorRunTime / 1e3}%7.3fs " +
          f"cpu=${m.executorCpuTime / 1e9}%7.3fs " +
          f"maxtask=${maxCpu.getOrDefault(si.stageId, 0L) / 1e9}%6.3fs " +
          f"sread=${m.shuffleReadMetrics.totalBytesRead}%9d " +
          f"swrite=${m.shuffleWriteMetrics.bytesWritten}%9d  ${stageLabel(si)}")
      }
      pairings.forEach(b => println("  BandPairs " + b.metrics.toSeq.sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")))
    }
    spark.stop()
  }

  /** The distinct operator scopes of a stage's RDDs, e.g.
    * `WholeStageCodegen (3), Exchange`. The stage name is no label under
    * AQE: every stage but the final one is named after the thread-pool
    * call site that submitted it (`$anonfun$withThreadLocalCaptured$2 at
    * CompletableFuture.java`).
    */
  private def stageLabel(si: org.apache.spark.scheduler.StageInfo): String =
    si.rddInfos.flatMap(_.scope).map(_.name.trim).distinct.mkString(", ")

  /** Time arbitrary registered queries across scale factors — the
    * per-operator scaling measurement behind SCALE.md's tables. Dirs come
    * from SPARK_GRAFT_SF_DIRS (comma-separated, default sf0.01,sf0.1).
    * Methodology matches Bench: noop sink, one warmup, min-of-3,
    * plain-double sums.
    */
  private def timeQueries(args: Array[String]): Unit = {
    val spark = Session.local(appName = "time-queries")
    spark.conf.set(Knobs.SumsExact.key, "false")
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
        else Knobs.withConf(spark, Knobs.SimExact.key -> "true") {
          val t = Corpora.timed(2)(run())
          (t, Some(DedupOps.ngramJaccard(spark, dir).localCheckpoint()))
        }
      val nExact = exactOpt.map(e => math.max(e.count(), 1L)).getOrElse(1L)
      // the advised shape, plus the gate's recall-heavy default for contrast
      val gateShape = s"${Knobs.MinHash.tables}x${Knobs.MinHash.planes}"
      for (shape <- Seq(advice.shape, gateShape).distinct) Knobs.withConf(spark,
          Knobs.SimExact.key -> "false", Knobs.MinHash.bands.key -> shape) {
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
        val nCand = Knobs.withConf(spark, Knobs.SimPrefilter.key -> "false") {
          DedupOps.minhashCandidatesPlan(spark, dir).count()
        }
        val allPairs = n.toDouble * (n - 1) / 2
        println(f"DOCSX n=$n shape=$shape%-5s exact=$tExact%8.2fs banded=$tBanded%8.2fs " +
          f"speedup=${tExact / tBanded}%5.2fx recall=${found.toDouble / nExact}%.4f " +
          f"pairs=$nExact")
        println(f"DOCSX n=$n shape=$shape%-5s advisor-validation " +
          f"measuredFrac=${nCand / allPairs}%.6f " +
          f"predictedFrac=${advice.candidateFraction}%.6f " +
          f"candidates=$nCand")
      }
    }
    spark.stop()
  }
}
