package graft

import graft.core.{Knobs, Tables}
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB discipline checks
  * (SURVEY.md §7.2 step 9). Correct results with a wrong plan shape fail
  * here even though the oracle passes.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  test("filter and projection reach the parquet scan (pushdown + pruning)") {
    val df = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" > 45.0)
      .select($"l_orderkey", $"l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("dim join broadcasts (no shuffle of the fact side)") {
    val plan = planOf(graft.operators.Joins.broadcastDims(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = graft.operators.Relational.topK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("aggregation runs partial then final (combiner parity)") {
    val plan = planOf(graft.operators.Aggregates.q1PricingSummary(spark, sfDir))
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("q1 stays inside whole-stage codegen") {
    // codegen stages appear as "*(n) Operator" in the executed-plan string
    val plan = planOf(graft.operators.Aggregates.q1PricingSummary(spark, sfDir))
    assert(plan.contains("*("), s"expected codegen spans:\n$plan")
  }

  test("co-bucketed tables join without a shuffle (CompositeInputFormat parity)") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the in-memory catalog is fresh each session but the warehouse dir is
      // not: clear both, or saveAsTable trips over the stale location
      Seq("b_orders", "b_lineitem").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val p = new org.apache.hadoop.fs.Path(s"/tmp/graft_warehouse/$t")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
      Tables.lineitem(spark, sfDir).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey", $"l_quantity")
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    }
  }

  test("point lookup on a bucketed table prunes to one bucket (MapFile parity)") {
    // fmt_bucketed_join leaves fq_orders bucketed by o_orderkey in the
    // warehouse; a key-equality filter must scan 1 of 8 buckets only
    graft.sources.Formats.bucketedJoin(spark, sfDir).collect()
    // the auto heuristic turns bucketed scans off when no join/agg wants the
    // distribution — but a point lookup wants bucket PRUNING, so pin it on
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val one = spark.table("fq_orders").filter($"o_orderkey" === 7L)
      val scan = one.queryExecution.executedPlan.toString
      assert(scan.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected single-bucket pruning:\n$scan")
    }
  }

  test("partitionBy demux prunes partitions on read") {
    val path = "/tmp/graft_test/demux_prune"
    Tables.documents(spark, sfDir).write.mode("overwrite").partitionBy("lang").parquet(path)
    val one = spark.read.parquet(path).filter($"lang" === "en")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), s"no partition pruning:\n$scan")
  }

  test("eager 3-way join: pre-agg partitioning is reused by the join") {
    val plan = planOf(graft.operators.Joins.threeWayAgg(spark, sfDir))
    // the per-order pre-aggregation must exist (partial_count below the join)
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"expected pre-aggregation below the join:\n$plan")
    // lineitem appears in exactly one scan: the fact table is read once
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(lineitemScans >= 1, s"plan lost the lineitem scan:\n$plan")
  }

  test("minhash signature aggregation is map-combined (objHashAggregate or partial min)") {
    // the composed signature groupBy (the reference the minhash_sig kernel
    // is pinned against; the deployed route runs no signature aggregation)
    // must run partial→final so its shuffle carries partial signatures,
    // not exploded shingles
    import graft.functions.DedupOps
    val plan = planOf(DedupOps.minhashSignatures(
      DedupOps.shingledOf(Tables.documents(spark, sfDir)), DedupOps.NumHashes))
    assert(plan.contains("partial_min") || plan.contains("partial_"),
      s"expected map-side partial min for signatures:\n$plan")
  }

  test("the MinHash routes keep each pair once and verify per document") {
    // dedup_minhash_lsh and banded dedup_ngram_jaccard: no pair distinct
    // (a HashAggregate keyed on exactly (d1, d2)), no per-document window
    // and no shingle explode — in the candidate subtree, the candidate-set
    // slice, or the query above both checkpoints
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.functions.DedupOps
    object Plans extends AdaptiveSparkPlanHelper
    def offenders(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect() // AQE-final plan
      Plans.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("d1", "d2") => a
        case w: WindowExec => w
        case g: GenerateExec if g.generator.toString.contains("shingle") => g
      }.map(_.simpleString(200))
    }
    for ((name, exact) <- Seq("dedup_minhash_lsh" -> "true", "dedup_ngram_jaccard" -> "false")) {
      withConf("graft.sim.exact" -> exact) {
        val query = graft.SparkEntry.queries(name)(spark, sfDir)
        val cands = DedupOps.minhashCandidatesPlan(spark, sfDir)
        for ((part, df) <- Seq("query" -> query,
            "candidates" -> cands, "sets" -> DedupOps.candidateSets(spark, sfDir, cands)))
          assert(offenders(df).isEmpty, s"$name $part: ${offenders(df)}")
        // and each pair's sets are intersected once, not again in a join
        // condition the jaccard filter was pushed into
        val finalPlan = query.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        assert("array_intersect".r.findAllIn(finalPlan).length == 1, s"$name:\n$finalPlan")
      }
    }
  }

  test("percentile sketch aggregates partial then final (mergeable at scale)") {
    val plan = graft.operators.Aggregates.percentilesSketch(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_percentile_approx"),
      s"expected map-side partial sketch merge:\n$plan")
  }

  test("bloom membership: the present-keys semi-join broadcasts") {
    val plan = planOf(graft.sources.Formats.bloomMembership(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast semi-join for the probe set:\n$plan")
  }

  test("LSH candidate pairs cross their exchange as id pairs, not embedding arrays") {
    // the pair-proportional exchange (after the self-join; a repartition on
    // the default route, the pair distinct's on the capped one) must carry
    // exactly the two id columns — never the bucket arrays or blobs
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    def pairExchangeInputs(cap: Int): Seq[Seq[String]] = Plans.collect(
      graft.functions.SimilarityOps
        .lshCandidateIds(spark, sfDir, Knobs.Banding(Knobs.CosDedup, 8, 4, bucketCap = cap))
        .queryExecution.executedPlan) {
      case e: ShuffleExchangeExec
          if Set("v1", "v2").subsetOf(e.output.map(_.name).toSet) =>
        e.child.output.map(_.name)
    }
    assert(pairExchangeInputs(0) == Seq(Seq("v1", "v2")))
    assert(pairExchangeInputs(64) == Seq(Seq("v1", "v2")))
  }

  test("no banded candidate or top-1 plan de-duplicates pairs with an aggregate") {
    // every embedding LSH route keeps a pair only at its canonical
    // discovery; a HashAggregate keyed on exactly (v1, v2) is a pair
    // distinct, whose per-task hash map the rule exists to avoid
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.functions.SimilarityOps
    object Plans extends AdaptiveSparkPlanHelper
    def pairAggregates(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Plans.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec
            if a.groupingExpressions.map(_.name) == Seq("v1", "v2") => a
      }.map(_.toString)
    def routes(cap: Int): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(0, 2).flatMap { bits =>
      Seq(s"candidates bits=$bits" -> SimilarityOps.lshCandidateIds(spark, sfDir,
          Knobs.Banding(Knobs.CosDedup, 8, 4, probeBits = bits, bucketCap = cap)),
        s"scored bits=$bits" -> SimilarityOps.lshScoredNeighbors(spark, sfDir, 4, 4,
          within = Seq("label"), probeBits = bits))
    } ++ Seq("sim_ann_lsh" -> SimilarityOps.annLsh(spark, sfDir))
    withConf(Knobs.SimExact.key -> "false") {
      for ((name, df) <- routes(0) :+
          ("sim_nearest_same_label" -> SimilarityOps.nearestSameLabel(spark, sfDir)))
        assert(pairAggregates(df).isEmpty, s"$name: ${pairAggregates(df)}")
      for ((name, df) <- routes(64) if name.startsWith("candidates"))
        assert(pairAggregates(df).isEmpty, s"capped $name: ${pairAggregates(df)}")
    }
  }

  test("banded dedup_embedding_cosine scores each pair at one cosine_sim, with no union below it") {
    // the pair producer emits each unordered pair once; both orientations
    // come from one explode above the verify, never from a union of the
    // candidates with their swap, which ran both float re-joins twice
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    withConf(Knobs.SimExact.key -> "false") {
      // the planned tree, not the final one: on a small corpus AQE prunes
      // an empty candidate branch, verify included
      val plan = graft.functions.DedupOps.embeddingCosineDedup(spark, sfDir)
        .queryExecution.executedPlan
      val verify = Plans.collect(plan) {
        case p if p.expressions.exists(_.toString.contains("cosine_sim")) => p
      }
      assert(verify.size == 1, plan.toString)
      val unions = Plans.collect(verify.head) { case u: UnionExec => u }
      assert(unions.isEmpty, verify.head.toString)
    }
  }

  test("the unprobed banded join tests v1 < v2 once") {
    // unprobed, the cheap `<` pre-test establishes the order, so
    // lsh_first_shared is passed `true`; probed, the order is its argument
    import org.apache.spark.sql.catalyst.expressions.LessThan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans extends AdaptiveSparkPlanHelper
    for (bits <- Seq(0, 2)) {
      val df = graft.functions.SimilarityOps.lshCandidateIds(spark, sfDir,
        Knobs.Banding(Knobs.CosDedup, 8, 4, probeBits = bits))
      df.collect()
      val conds = Plans.collect(df.queryExecution.executedPlan) {
        case j: BaseJoinExec if j.condition.exists(_.toString.contains("lsh_first_shared")) =>
          j.condition.get
      }
      assert(conds.size == 1, s"bits=$bits: $conds")
      assert(conds.head.collect { case l: LessThan => l }.size == 1, s"bits=$bits: ${conds.head}")
    }
  }

  test("cosine top-k merges bounded heaps map-side, no window rank shuffle") {
    val plan = graft.functions.SimilarityOps.cosineTopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_"),
      s"expected partial heap aggregation:\n$plan")
    assert(!plan.contains("Window"),
      s"window rank would shuffle every scored candidate:\n$plan")
  }

  test("cosine_sim participates in whole-stage codegen") {
    graft.plans.GraftFunctions.install(spark)
    val e = Tables.embeddings(spark, sfDir)
    val df = e.select($"vec_id", expr("cosine_sim(embedding, embedding)").as("self"))
    val plan = planOf(df)
    assert(plan.contains("*("), s"expression fell out of codegen:\n$plan")
    assert(df.filter($"self" < 0.999999).count() == 0) // self-similarity == 1
    // every vector kernel, one query each: the operator line holding the
    // kernel must carry the `*(n)` whole-stage-codegen prefix (the scan's
    // own prefix satisfies the check above whatever the kernel does)
    val cents = typedLit(Seq(Seq.fill(64)(1f), Seq.fill(64)(-1f)))
    val kernels = Seq(
      "cosine_sim" -> expr("cosine_sim(embedding, embedding)"),
      "dot_product" -> expr("dot_product(embedding, embedding)"),
      "lsh_buckets" -> expr("lsh_buckets(embedding, 4, 4)"),
      "lsh_first_shared" ->
        expr("lsh_first_shared(lsh_buckets(embedding, 4, 4), lsh_buckets(embedding, 2, 8))"),
      "lsh_probes" -> expr("lsh_probes(embedding, 4, 4, 2)"),
      "int8_enc" -> expr("int8_enc(embedding)"),
      "int8_est" -> expr("int8_est(int8_enc(embedding), int8_enc(embedding))"),
      "int8_keep" -> expr("int8_keep(int8_enc(embedding), int8_enc(embedding), 0.5)"),
      "best_cell" -> call_function("best_cell", $"embedding", lit(Array(3, 7)), cents))
    kernels.foreach { case (name, k) =>
      val plan = planOf(e.select($"vec_id", k.as("k"))).split("== Initial Plan ==").head
      val lines = plan.linesIterator.filter(_.contains(s"$name(")).toSeq
      assert(lines.nonEmpty, s"no $name operator in:\n$plan")
      assert(lines.forall(_.dropWhile(" :+-".contains(_)).startsWith("*(")),
        s"$name operator is outside whole-stage codegen:\n$plan")
    }
  }

  test("int8 quantization is map-only: no shuffle below the output sort") {
    // the only Exchange allowed is the presentation orderBy's (it exists
    // for the oracle hash; a small one is a single-partition exchange, see
    // graft.plans.SmallSort); the operator itself must be a single narrow
    // scan — no hash-partitioned shuffle at all
    val plan = planOf(graft.functions.SimilarityOps.quantizeInt8(spark, sfDir))
      .split("== Initial Plan ==").head
    assert(plan.linesIterator.exists(l => l.contains("Sort [") && l.endsWith("], true, 0")),
      s"missing presentation sort:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"quantization hash-shuffled:\n$plan")
    assert(!plan.contains("HashAggregate"), s"unexpected aggregation:\n$plan")
  }

  test("IVF inverted file never shuffles the corpus (no vec_id partitioning)") {
    // cell assignment is a per-row argmax over the inline centroid literal;
    // the only hash shuffle left in the IVF search is the per-query final
    // argmax (grouped by q_id, ≤1 row per (query, partition)). A
    // hashpartitioning on vec_id would mean the broadcast-join + re-group
    // corpus shuffle crept back in.
    val plan = planOf(graft.functions.SimilarityOps.annIvf(spark, sfDir))
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"corpus re-grouped by vec_id (assignment shuffled the corpus):\n$plan")
    assert(plan.contains("hashpartitioning(q_id"),
      s"expected the per-query final argmax shuffle:\n$plan")
    // the argmax must appear EXACTLY once: an inferred IsNotNull(cell)
    // filter (nullable join key) or a collapsed projection would duplicate
    // the 16-kernel expression per corpus row — cost ×2 at 100 TB. AQE's
    // toString prints the final AND initial plans — count the final only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val evals = "best_cell".r.findAllIn(finalPlan).length
    assert(evals == 1, s"argmax evaluated $evals times (expected 1):\n$finalPlan")
  }

  test("k-means Lloyd assignment evaluates the centroid argmax once per row") {
    // the training loop selects BOTH fields of the argmax struct (cell,
    // csim); CollapseProject must not inline the expensive expression into
    // each field reference — that would double every Lloyd round's scan
    // cost. Built through the PRODUCTION bestCellCol (package-private for
    // exactly this) so the pinned plan shape can't drift from the code.
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.install(spark)
    val e = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val dim = e.select(size($"embedding")).head().getInt(0)
    val cents = Seq((0, Seq.fill(dim)(0.1f)), (1, Seq.fill(dim)(0.2f)))
    val best = graft.functions.SimilarityOps.bestCellCol(cents, $"embedding")
    val assigned = e.withColumn("b", best)
      .select($"b.cent_id".as("cell"), $"vec_id", $"embedding", $"b.csim".as("csim"))
    val plan = assigned.queryExecution.executedPlan.toString
    val evals = "best_cell".r.findAllIn(plan).length
    assert(evals == 1, s"Lloyd argmax evaluated $evals times (expected 1):\n$plan")
  }

  test("funnel has no window operator: per-step min-aggregations only") {
    val plan = planOf(graft.operators.Events.funnel(spark, sfDir))
    assert(!plan.contains("Window"), s"funnel fell back to a window sort:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("similarity argmax is a streaming HashAggregate, never a SortAggregate") {
    // arg_max_long exists because max_by(struct, struct) carries struct
    // aggregation buffers → SortAggregate → the whole Θ(n²/L) scored-pair
    // stream is sorted per partition (measured >90 GB spill at 250k
    // vectors, SCALE.md round 7). Pin the plan so a refactor back to the
    // composed form fails here, not on a production corpus.
    for (df <- Seq(
        graft.functions.SimilarityOps.nearestSameLabel(spark, sfDir),
        graft.functions.SimilarityOps.annLsh(spark, sfDir),
        graft.operators.Events.firstEventPerUserType(spark, sfDir))) {
      val plan = planOf(df)
      assert(!plan.contains("SortAggregate"),
        s"argmax fell back to sort-based aggregation:\n$plan")
      assert(plan.contains("arg_max_long"), plan)
    }
  }

  test("decontaminate bloom path: the might-contain predicate sits below the exact join") {
    // the outgrow path's whole value is WHERE the bloom probe runs — in
    // the corpus-side scan stage, so misses die before the (possibly
    // shuffled) exact join's exchange. A refactor that hoists it above
    // the join (or drops the exact join after it) fails here.
    // round 13: the probe is the native BloomProbe predicate (the house
    // re-housing of BloomFilterMightContain with the filter as a compact
    // field, not a hex-rendering binary literal), not a ScalaUDF — the
    // pin now also guards against a regression back to the
    // codegen-breaking UDF form
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    withConf("graft.text.decontam.bloom" -> "true") {
      val df = graft.functions.TextOps.decontaminate(spark, sfDir)
      val plan = df.queryExecution.optimizedPlan
      def bloomBelow(p: LogicalPlan): Boolean = p.collectFirst {
        case f: Filter if f.condition.exists(_.isInstanceOf[graft.expr.BloomProbe]) => f
      }.nonEmpty
      val joins = plan.collect { case j: Join => j }
      assert(joins.exists(j => j.children.exists(bloomBelow)),
        s"no might-contain filter below a join:\n$plan")
      assert(plan.collectFirst {
        case f: Filter if f.condition.exists(_.isInstanceOf[ScalaUDF]) => f
      }.isEmpty, s"the bloom probe regressed to a ScalaUDF:\n$plan")
    }
  }

  test("bloom membership probes through the native kernel — no ScalaUDF anywhere in the plan") {
    // round 15 (r13 brief #2 / r14 brief #5): the BloomMapFile membership
    // probe was the engine's last avoidable ScalaUDF — an opaque closure
    // that broke whole-stage codegen in its projection. It must ride the
    // same BloomProbe kernel as the decontamination path; a regression to
    // any UDF form fails here.
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val df = graft.sources.Formats.bloomMembership(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectFirst {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[graft.expr.BloomProbe])) => p
    }.nonEmpty, s"no native bloom_probe in the membership plan:\n$plan")
    assert(plan.collectFirst {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => p
    }.isEmpty, s"the membership probe regressed to a ScalaUDF:\n$plan")
  }

  test("embedding bucket cap: one bucketing pass — the capped candidate plan rescans nothing") {
    // the embedding-side twin of the minhash one-pass pin below: with
    // graft.sim.bucketcap set, every consumer of the bucketed stream
    // (sizes agg, cap semi-join, both self-join legs) must read the ONE
    // materialized (tbl,bucket,id,blob) stream — no scan+lsh_buckets
    // subtree may be duplicated into the plan
    val plan = planOf(graft.functions.SimilarityOps.lshCandidateIds(spark, sfDir,
      Knobs.Banding(Knobs.CosDedup, 8, 4, bucketCap = 64), prefilterTheta = Some(0.9)))
    assert(!plan.contains("Scan parquet"),
      s"capped embedding candidate plan rescans the corpus:\n$plan")
    assert(plan.contains("LeftSemi"), s"cap semi-join missing:\n$plan")
  }

  test("bucket cap: one signature pass — the capped candidate plan rescans nothing") {
    // without the explicit materialization, each self-join leg embedded
    // its own copy of the band stream AND the (bb,count) sizes
    // aggregation — 4 full scan+signature passes where one suffices
    // (ReuseExchange did not unify the duplicated subtrees; measured,
    // SCALE.md round 12). The checkpoint makes the single pass a plan
    // property: the capped candidate subtree must contain NO parquet
    // scan — every consumer reads the materialized band stream.
    withConf("graft.dedup.bucketcap" -> "64") {
      val plan = planOf(graft.functions.DedupOps.minhashCandidatesPlan(spark, sfDir))
      assert(!plan.contains("Scan parquet"),
        s"capped candidate plan rescans the corpus:\n$plan")
      assert(plan.contains("LeftSemi"), s"cap semi-join missing:\n$plan")
    }
  }
}
