package graft

import graft.core.Tables
import org.apache.spark.sql.{Observation, SaveMode}
import org.apache.spark.sql.functions._

/** Operator-adjacent reference capabilities that don't change query output
  * and therefore live as specs rather than oracle queries:
  *
  *  - Counters (`Counters.incrCounter` / `Reporter`, SURVEY §2.5) →
  *    `df.observe`: named metrics collected as a side effect of one pass,
  *    no extra job, exactly the reference's heartbeat-collected counters.
  *  - Bloom filters (`util/bloom/BloomFilter.java`, `BloomMapFile`,
  *    SURVEY §1) → `DataFrameStatFunctions.bloomFilter`: membership sketch
  *    with zero false negatives, built distributed.
  *  - MultipleOutputs *named* side-outputs (SURVEY §2.2) → N filtered
  *    writes of one cached DataFrame (the keyed-demux half is the
  *    `fmt_partitioned_demux` oracle query).
  */
class OpsExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("the shared spec session runs the bench's and the gate's settings") {
    // Session.local is the one builder: Spark's broadcast threshold and AQE
    // defaults, shuffle partitions = cores — so plan-shape specs see the
    // plans the bench and the correctness gate run
    import org.apache.spark.sql.internal.SQLConf
    val threshold = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get(threshold.key)) === threshold.defaultValue.get)
    for (flag <- Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED,
        SQLConf.COALESCE_PARTITIONS_ENABLED, SQLConf.SKEW_JOIN_ENABLED)) {
      assert(flag.defaultValue.contains(true), flag.key)
      assert(spark.conf.get(flag.key).toBoolean, flag.key)
    }
    assert(spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt ===
      spark.sparkContext.defaultParallelism)
  }

  test("observe collects counter metrics in one pass (Counters parity)") {
    val obs = Observation("graft_counters")
    val df = Tables.orders(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("n_records"),
        sum(when($"o_totalprice" > 100000.0, 1L).otherwise(0L)).as("n_big"))
      .filter($"o_totalprice" > 100000.0)
    val kept = df.count()
    val row = obs.get
    val expected = Tables.orders(spark, sfDir).count()
    assert(row("n_records") == expected, "counter must see pre-filter records")
    assert(row("n_big") == kept, "derived counter must equal downstream count")
  }

  test("bloom filter has no false negatives and sane false-positive rate") {
    val keys = Tables.orders(spark, sfDir).select($"o_orderkey")
    val bf = keys.stat.bloomFilter("o_orderkey", expectedNumItems = 20000, fpp = 0.01)
    val present = keys.as[Long].collect()
    assert(present.forall(bf.mightContain), "bloom filters never false-negative")
    val absent = (1L to 10000L).map(_ + 10000000L)
    val fp = absent.count(bf.mightContain)
    assert(fp <= 500, s"false-positive rate implausibly high: $fp/10000")
  }

  test("stratified sampling respects per-stratum fractions (InputSampler parity)") {
    val o = Tables.orders(spark, sfDir)
    val fractions = Map("F" -> 0.5, "O" -> 0.1, "P" -> 1.0)
    val sampled = o.stat.sampleBy("o_orderstatus", fractions, seed = 42L)
      .groupBy($"o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = o.groupBy($"o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fractions.foreach { case (k, f) =>
      val got = sampled.getOrElse(k, 0L).toDouble / full(k)
      assert(math.abs(got - f) < 0.15, s"stratum $k: got ratio $got, wanted ~$f")
    }
  }

  test("approx quantiles stay within declared tolerance of exact percentiles") {
    val o = Tables.orders(spark, sfDir)
    val approx = o.stat.approxQuantile("o_totalprice", Array(0.5, 0.9), 0.01)
    val exact = o.selectExpr(
        "percentile(o_totalprice, 0.5) AS p50", "percentile(o_totalprice, 0.9) AS p90")
      .collect().head
    val n = o.count().toDouble
    // approxQuantile guarantees rank error <= relativeError * n; translate
    // to a generous value bound via the empirical spread
    Seq(approx(0) -> exact.getDouble(0), approx(1) -> exact.getDouble(1)).foreach {
      case (a, e) => assert(math.abs(a - e) / math.max(e, 1.0) < 0.05,
        s"approx quantile too far: $a vs $e (n=$n)")
    }
  }

  test("named side-outputs: one cached pass fans out to disjoint sinks") {
    val base = "/tmp/graft_fmt/side_outputs"
    val o = Tables.orders(spark, sfDir).cache()
    try {
      val hi = o.filter($"o_totalprice" > 150000.0)
      val lo = o.filter($"o_totalprice" <= 150000.0)
      hi.write.mode(SaveMode.Overwrite).parquet(s"$base/high")
      lo.write.mode(SaveMode.Overwrite).parquet(s"$base/low")
      val nHi = spark.read.parquet(s"$base/high").count()
      val nLo = spark.read.parquet(s"$base/low").count()
      assert(nHi + nLo == o.count(), "side outputs must partition the input")
      assert(nHi > 0 && nLo > 0)
      val back = spark.read.parquet(s"$base/high")
      assert(back.filter($"o_totalprice" <= 150000.0).count() == 0, "demux must be clean")
    } finally o.unpersist()
  }

  test("repetition stats: narrow run-length fold equals the declarative groupBy max") {
    // the fold over the sorted token array is held to two-level-groupBy
    // semantics INSIDE Spark too, not just by the DuckDB oracle
    val stats = graft.functions.TextOps.repetitionStats(spark, sfDir)
      .select($"doc_id", $"top_word_n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.size == declarative.size)
    declarative.foreach { case (id, m) =>
      assert(stats(id) == m, s"doc $id: fold=${stats(id)} declarative=$m")
    }
  }

  test("decontamination overlap counts match a driver-side set intersection") {
    def shingles(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalGrams = docs.filter(_._1 < 5).values.flatMap(shingles).toSet
    val got = graft.functions.TextOps.decontaminate(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.forall(_._1 >= 5), "eval docs must not appear in the report")
    got.take(50).foreach { case (id, n, flag) =>
      val expect = (shingles(docs(id)) & evalGrams).size
      assert(n == expect, s"doc $id: n_overlap=$n expected=$expect")
      assert(flag == (n >= 3))
    }
  }

  test("source-mix resample: per-source output equals min(availability, equal-share quota)") {
    val counts = Tables.documents(spark, sfDir)
      .groupBy($"source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = counts.values.sum / 2 / counts.size
    val got = graft.functions.TextOps.sourceMixResample(spark, sfDir)
      .groupBy($"source").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (s, n) =>
      assert(got.getOrElse(s, 0L) == math.min(n, base),
        s"source $s: got ${got.getOrElse(s, 0L)}, want min($n, $base)")
    }
  }

  test("cluster keep-best: every kept doc belongs to its cluster and maximizes the policy") {
    val clusters = graft.functions.DedupOps.connectedComponents(spark, sfDir)
      .select($"doc_id", $"cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = Tables.documents(spark, sfDir).select($"doc_id", $"n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val kept = graft.functions.DedupOps.clusterKeepBest(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.length == byCluster.size, "one representative per cluster")
    kept.foreach { case (cid, keptId, nChars, size) =>
      val members = byCluster(cid)
      assert(members.contains(keptId) && size == members.size && nChars == chars(keptId))
      val best = members.toSeq.map(m => (chars(m), -m)).max
      assert((chars(keptId), -keptId) == best, s"cluster $cid kept $keptId, best was $best")
    }
  }

  test("int8 quantization: checksums bounded, reconstruction cosine near 1") {
    val rows = graft.functions.SimilarityOps.quantizeInt8(spark, sfDir).collect()
    assert(rows.length == Tables.embeddings(spark, sfDir).count())
    rows.foreach { r =>
      val (scale, qSum, qL1, cosQ) =
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(scale > 0.0)
      // 64 dims, each |q_i| <= 127
      assert(math.abs(qSum) <= qL1 && qL1 <= 127L * 64)
      // at least one element quantizes to ±127 (the max element defines scale)
      assert(qL1 >= 127)
      // int8 on 64-dim unit-ish vectors loses well under 0.1% of cosine
      assert(cosQ > 0.999, s"vec ${r.getLong(0)}: cos_q $cosQ")
    }
  }

  test("count-min sketch never undercounts, and total mass is conserved") {
    val rows = graft.functions.TextOps.countMinFreq(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (term, exact, est) =>
      assert(est >= exact, s"count-min undercounted '$term': est $est < exact $exact")
    }
    // the sketch is 4x256 over a tiny vocabulary — most terms should be
    // collision-free (est == exact), not all inflated
    val exactHits = rows.count { case (_, e, s) => e == s }
    assert(exactHits * 2 > rows.length, s"only $exactHits/${rows.length} collision-free")
  }

  test("bigram LM score: every multi-token doc scored, log-probs negative") {
    val docs = Tables.documents(spark, sfDir)
    val multiTok = docs.filter(size(split(trim(lower($"text")), "\\s+")) >= 2).count()
    val rows = graft.functions.TextOps.bigramLmScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == multiTok, s"${rows.length} scored, $multiTok multi-token docs")
    rows.foreach { case (id, nBigrams, alp) =>
      assert(nBigrams >= 1)
      // smoothed probabilities are < 1 strictly, so mean ln is negative
      assert(alp < 0.0, s"doc $id: avg_logp $alp")
    }
  }

  test("funnel: step timestamps are ordered and steps_completed is consistent") {
    val rows = graft.operators.Events.funnel(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tView = r.getTimestamp(1)
      val tClick = Option(r.getTimestamp(2))
      val tPurch = Option(r.getTimestamp(3))
      val steps = r.getInt(4)
      assert(tView != null)
      tClick.foreach(t => assert(!t.before(tView)))
      tPurch.foreach { t =>
        assert(tClick.isDefined, "purchase step requires click step")
        assert(!t.before(tClick.get))
      }
      assert(steps == 1 + tClick.size + tPurch.size)
    }
  }

  test("bench JSON numbers are locale-independent (comma-decimal locale)") {
    // the bench contract is ONE machine-readable JSON line; f"$x%.4f"
    // formats with the JVM default locale, so a comma-decimal host
    // (fr_FR) would emit {"calib_sec":0,4580} — invalid JSON. num4 pins
    // Locale.ROOT (round-16 advice #4).
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.FRANCE)
    try {
      assert(f"${0.458}%.4f" == "0,4580", "locale flip did not take — test vacuous")
      assert(Bench.num4(0.458) == "0.4580")
      assert(Bench.num4(6.5432109) == "6.5432")
    } finally java.util.Locale.setDefault(saved)
  }

  test("scoped sim bucket cap parse failure names the key and the form") {
    // round-16 advice #3: garbage in a SCOPED cap key must fail naming
    // the key and expected form, not with a bare NumberFormatException
    // (the legacy-key migration message covers only the un-scoped name)
    withConf("graft.sim.bucketcap.cosdedup" -> "abc") {
      val e = intercept[RuntimeException] {
        graft.core.Knobs.CosDedup(spark)
      }
      assert(e.getMessage.contains("graft.sim.bucketcap.cosdedup"), e.getMessage)
      assert(e.getMessage.contains("'abc'"), e.getMessage)
    }
    // and a well-formed scoped value still parses
    withConf("graft.sim.bucketcap.cosdedup" -> "512")(
      assert(graft.core.Knobs.CosDedup(spark).bucketCap == 512))
  }
}
