package graft

import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bit-compatibility of the round-22 native text kernels with the composed
  * higher-order-function reference forms they replace on the deployed
  * paths (text_repetition_stats, text_corpus_select, text_bigram_lm_score,
  * text_ngram_freq):
  *
  *  - `word_bigrams(toks)` ≡ TextOps.bigramsOf (index-transform +
  *    concat_ws slice join + split-width filter);
  *  - `rep_stats(toks)` ≡ the five composed statistics, incl.
  *    top_word_n ≡ TextOps.topRunOf (run-length fold over array_sort).
  *
  * Equality here is what keeps every oracle hash unchanged when a call
  * site switches from the interpreted HOFs to the kernels.
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.install(spark)

  /** Composed five-stat frame vs kernel five-stat frame over (id, toks). */
  private def assertEqualStats(toksDf: DataFrame): Unit = {
    val big = graft.functions.TextOps.bigramsOf($"toks")
    val composed = toksDf.select($"id",
      size($"toks").cast("long").as("n_tokens"),
      size(array_distinct($"toks")).cast("long").as("n_distinct_words"),
      size(big).cast("long").as("n_bigrams"),
      size(array_distinct(big)).cast("long").as("n_distinct_bigrams"),
      graft.functions.TextOps.topRunOf($"toks").as("top_word_n"))
      .orderBy($"id").collect()
    val kernel = toksDf
      .withColumn("rs", call_function("rep_stats", $"toks"))
      .select($"id", $"rs.n_tokens", $"rs.n_distinct_words",
        $"rs.n_bigrams", $"rs.n_distinct_bigrams", $"rs.top_word_n")
      .orderBy($"id").collect()
    assert(composed.length == kernel.length)
    composed.zip(kernel).foreach { case (c, k) =>
      assert(c === k, s"rep_stats mismatch for id ${c.get(0)}: composed $c kernel $k")
    }
    val composedBig = toksDf.select($"id", big.as("b")).orderBy($"id").collect()
    val kernelBig = toksDf.select($"id",
      call_function("word_bigrams", $"toks").as("b")).orderBy($"id").collect()
    composedBig.zip(kernelBig).foreach { case (c, k) =>
      assert(c.getSeq[String](1) === k.getSeq[String](1),
        s"word_bigrams mismatch for id ${c.get(0)}")
    }
  }

  test("kernels equal the composed HOFs on the documents fixture tokens") {
    val toksDf = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id".as("id"),
        filter(split(lower($"text"), "\\s+"), t => t =!= "").as("toks"))
    assertEqualStats(toksDf)
  }

  test("kernels equal the composed HOFs on adversarial token arrays") {
    // shapes the tokenizers never produce but the expressions must agree
    // on anyway: empties, single tokens, nulls, tokens CONTAINING spaces
    // (the composed width filter keeps a 1-window "bigram" iff the token
    // holds exactly one space — the kernel must reproduce that, not guess)
    val rows: Seq[(Long, Seq[String])] = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("one")),
      (3L, Seq("a", "b", "a", "a", "b")),
      (4L, Seq("x", "x", "x", "x")),
      (5L, Seq("", "a", "", "b")),           // empty-string tokens
      (6L, Seq("a b", "c")),                 // space inside a token
      (7L, Seq("two  spaces", "t")),         // two spaces inside a token
      (8L, Seq(null, "a", null, null)),      // null elements
      (9L, Seq("é", "漢字", "é", "é")),      // multi-byte UTF-8
      (10L, Seq("a", null)),
      (11L, Seq("solo space")) // one token holding exactly one space
    )
    val toksDf = rows.toDF("id", "toks")
    assertEqualStats(toksDf)
  }

  /** count_in / count_longer / word_shingles vs their composed forms. */
  private def assertEqualCounters(toksDf: DataFrame): Unit = {
    val stops = Seq("the", "a", "of", "and")
    val composed = toksDf.select($"id",
      size(filter($"toks", t => t.isin(stops: _*))).as("n_stop"),
      size(filter($"toks", t => length(t) > 3)).as("n_long"))
      .orderBy($"id").collect()
    val kernel = toksDf.select($"id",
      call_function("count_in", $"toks", typedLit(stops)).as("n_stop"),
      call_function("count_longer", $"toks", lit(3)).as("n_long"))
      .orderBy($"id").collect()
    composed.zip(kernel).foreach { case (c, k) =>
      assert(c === k, s"counter mismatch for id ${c.get(0)}: composed $c kernel $k")
    }
    // word_shingles ≡ the shingledOf transform (3-token windows, NO width
    // filter — short arrays emit their single short shingle)
    val composedSh = toksDf.select($"id", transform(
      sequence(lit(1), greatest(size($"toks") - lit(2), lit(1))),
      i => concat_ws(" ", slice($"toks", i, lit(3)))).as("sh"))
      .orderBy($"id").collect()
    val kernelSh = toksDf.select($"id",
      call_function("word_shingles", $"toks").as("sh")).orderBy($"id").collect()
    composedSh.zip(kernelSh).foreach { case (c, k) =>
      assert(c.getSeq[String](1) === k.getSeq[String](1),
        s"word_shingles mismatch for id ${c.get(0)}")
    }
  }

  test("counter/shingle kernels equal the composed forms on fixture tokens") {
    val toksDf = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id".as("id"),
        array_remove(split(lower($"text"), "\\s+"), "").as("toks"))
    assertEqualCounters(toksDf)
  }

  test("counter/shingle kernels equal the composed forms on adversarial arrays") {
    val rows: Seq[(Long, Seq[String])] = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("one")),
      (3L, Seq("the", "a", "the", "xyzzy", "longword")),
      (4L, Seq("", "the", "")),
      (5L, Seq(null, "the", null)),
      (6L, Seq("漢字漢字", "é", "the")), // numChars, not bytes
      (7L, Seq("a", "b")))
    assertEqualCounters(rows.toDF("id", "toks"))
  }

  test("count_cp_range equals size(regexp_extract_all) on fixtures and adversarial text") {
    val fixture = graft.core.Tables.documents(spark, sfDir).select($"doc_id".as("id"), $"text")
    val adversarial = Seq(
      (1001L, ""), (1002L, "plain ascii only"),
      (1003L, "漢字 mixed 中文 text"),          // in-range CJK
      (1004L, "一鿿䷿ꀀ"),      // range boundaries ± 1
      (1005L, "emoji 😀 pair"),       // supplementary pair (out of range)
      (1006L, "é ü ñ")).toDF("id", "text")
    for (df <- Seq(fixture, adversarial)) {
      val c = df.select($"id",
        size(expr("regexp_extract_all(text, '[\\\\x{4e00}-\\\\x{9fff}]', 0)")).as("n"))
        .orderBy($"id").collect()
      val k = df.select($"id",
        call_function("count_cp_range", $"text", lit(0x4e00), lit(0x9fff)).as("n"))
        .orderBy($"id").collect()
      c.zip(k).foreach { case (cr, kr) =>
        assert(cr === kr, s"count_cp_range mismatch for id ${cr.get(0)}")
      }
    }
  }

  test("min_md5_shingle equals array_min(transform(shingles, md5)) on fixtures and edges") {
    def composed(toks: org.apache.spark.sql.Column) = array_min(transform(
      transform(sequence(lit(1), greatest(size(toks) - lit(2), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(3)))),
      s => md5(s)))
    val fixture = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id".as("id"),
        split(regexp_replace(trim(lower($"text")), "\\s+", " "), "\\s+").as("toks"))
    val adversarial = Seq(
      (1L, Seq.empty[String]), (2L, Seq("one")), (3L, Seq("a", "b")),
      (4L, Seq("a", "b", "c", "d")), (5L, Seq("", "x", "")),
      (6L, Seq(null, "a", "b", null)), (7L, Seq("漢", "字", "é"))).toDF("id", "toks")
    for (df <- Seq(fixture, adversarial)) {
      val c = df.select($"id", composed($"toks").as("m")).orderBy($"id").collect()
      val k = df.select($"id",
        call_function("min_md5_shingle", $"toks").as("m")).orderBy($"id").collect()
      c.zip(k).foreach { case (cr, kr) =>
        assert(cr === kr, s"min_md5_shingle mismatch for id ${cr.get(0)}")
      }
    }
  }

  test("cm_cells equals the composed count-min bucket family on fixtures and edge terms") {
    val fixture = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id".as("id"), explode(
        array_remove(split(lower($"text"), "\\s+"), "")).as("term"))
      .limit(2000)
    val adversarial = Seq((1L, ""), (2L, "a"), (3L, "漢字"), (4L, "sp ace"),
      (5L, "0:prefixed"), (6L, "x" * 100)).toDF("id", "term")
    for (df <- Seq(fixture, adversarial)) {
      val c = df.select($"id", $"term",
        graft.functions.TextOps.cmBuckets($"term").as("rc")).orderBy($"id", $"term").collect()
      val k = df.select($"id", $"term",
        call_function("cm_cells", $"term",
          lit(graft.functions.TextOps.CmDepth),
          lit(graft.functions.TextOps.CmWidth)).as("rc"))
        .orderBy($"id", $"term").collect()
      c.zip(k).foreach { case (cr, kr) =>
        assert(cr.getSeq[org.apache.spark.sql.Row](2) === kr.getSeq[org.apache.spark.sql.Row](2),
          s"cm_cells mismatch for term '${cr.get(1)}'")
      }
    }
  }

  test("kernels run inside whole-stage codegen (no CodegenFallback in the scan stage)") {
    // the production tokenizer shape: array_remove, NOT filter(_ =!= "") —
    // a lambda HOF is CodegenFallback and kicks the whole project out of
    // whole-stage codegen, kernel or no kernel (this pin found that)
    val df = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id",
        call_function("rep_stats",
          array_remove(split(lower($"text"), "\\s+"), "")).as("rs"))
    val plan = planOf(df)
    // executedPlan.toString marks whole-stage-codegen membership with the
    // `*(n)` prefix on each fused operator
    val projLine = plan.linesIterator.find(_.contains("rep_stats"))
      .getOrElse(fail(s"no rep_stats project in:\n$plan"))
    assert(projLine.trim.startsWith("*("),
      s"rep_stats project is outside whole-stage codegen:\n$plan")
  }
}
