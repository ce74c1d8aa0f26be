package graft

import graft.functions.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Degenerate-corpus robustness: a 100 TB crawl certainly contains empty
  * documents, whitespace-only documents, and single-token documents — forms
  * the driver's synthetic gate corpus never produces, so the oracle gate
  * cannot catch an operator that throws or NaN-poisons on them (the k-means
  * refit's ANSI DIVIDE_BY_ZERO on a zero-norm embedding was exactly this
  * class of latent crash). Every text/dedup operator must COMPLETE on the
  * doctored corpus and return finite values for the rows it keeps; whether
  * a degenerate doc is kept or dropped is each operator's documented
  * choice, not asserted here.
  */
class DegenerateDataSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_degen").toString
    val docs = Seq(
      (0L, "", "en", "web"),                         // empty
      (1L, "   \t  \n ", "en", "web"),               // whitespace-only
      (2L, "word", "en", "web"),                     // single token
      (3L, "a a a a a a a a", "en", "books"),        // one repeated token
      (4L, "the quick brown fox jumps over the lazy dog", "en", "web"),
      (5L, "pack my box with five dozen liquor jugs", "en", "books"),
      (6L, "!!! ??? ... ---", "en", "web"),          // punctuation-only
      (7L, "une phrase en francais pour la variete", "fr", "web"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Materialize and assert every double/float column is finite. */
  private def finite(name: String, df: => DataFrame): Unit = {
    val frame = df // bind the by-name arg once: collect + schema below must
    val rows = frame.collect() // not each re-build the operator's DataFrame
    val schema = frame.schema
    rows.foreach { r =>
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType.typeName match {
          case "double" => assert(!r.getDouble(i).isNaN && !r.getDouble(i).isInfinite,
            s"$name.${f.name} non-finite in row $r")
          case "float" => assert(!r.getFloat(i).isNaN && !r.getFloat(i).isInfinite,
            s"$name.${f.name} non-finite in row $r")
          case _ =>
        }
      }
    }
  }

  test("text operators complete with finite outputs on degenerate documents") {
    for ((name, f) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        "text_quality_score" -> (TextOps.qualityScore _),
        "text_lang_id" -> (TextOps.langId _),
        "text_token_count" -> (TextOps.tokenCount _),
        "text_fingerprint" -> (TextOps.fingerprint _),
        "text_repetition_stats" -> (TextOps.repetitionStats _),
        "text_wordcount" -> (TextOps.wordCount _)))
      finite(name, f(spark, dir))
  }

  test("decontamination completes on degenerate documents under both join paths") {
    // doc_ids 0–4 are the eval set here, so the eval grams include the
    // empty/whitespace/single-token degenerates — the bloom path must
    // build a filter over them (count ≥ 1 floor) and both paths must
    // agree row-for-row
    val broadcastRows = TextOps.decontaminate(spark, dir).collect().map(_.toString).toSeq
    withConf("graft.text.decontam.bloom" -> "true") {
      val bloomRows = TextOps.decontaminate(spark, dir).collect().map(_.toString).toSeq
      assert(broadcastRows.nonEmpty && bloomRows == broadcastRows)
    }
  }

  test("dedup operators complete with finite outputs on degenerate documents") {
    for ((name, f) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        "dedup_exact" -> (DedupOps.exactDedup _),
        "dedup_simhash" -> (DedupOps.simhash _),
        "dedup_minhash_lsh" -> (DedupOps.minhashLsh _),
        "dedup_ngram_jaccard" -> (DedupOps.ngramJaccard _)))
      finite(name, f(spark, dir))
  }

  test("a null-text document yields no Jaccard pair on any route") {
    // null text signs like empty text, so the null-text docs are band
    // candidates of every empty doc and of each other; they have no
    // shingles, so no route may pair them
    val d = java.nio.file.Files.createTempDirectory("graft_nulltext").toString
    Seq((0L, null.asInstanceOf[String]), (1L, ""), (2L, null.asInstanceOf[String]), (3L, ""),
        (4L, "the quick brown fox jumps"), (5L, "the quick brown fox jumps over"))
      .map { case (id, t) => (id, t, "en", "web", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    def pairs(df: DataFrame) = df.select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(Set((0L, 1L), (0L, 2L)).subsetOf(pairs(DedupOps.minhashCandidatesPlan(spark, d))))
    val want = Set((1L, 3L), (4L, 5L))
    assert(pairs(DedupOps.minhashLsh(spark, d)) == want)
    assert(pairs(DedupOps.ngramJaccard(spark, d)) == want)
    withConf("graft.sim.exact" -> "false")(assert(pairs(DedupOps.ngramJaccard(spark, d)) == want))
  }

  test("multimodal operators complete on degenerate documents (empty payloads)") {
    for ((name, f) <- Seq[(String, (SparkSession, String) => DataFrame)](
        "mm_payload_stats" -> (MultimodalOps.payloadStats _),
        "mm_frame_sample" -> (MultimodalOps.frameSample _),
        "mm_decode_stub" -> (MultimodalOps.decodeStub _),
        "mm_resize_meta" -> (MultimodalOps.resizeMeta _)))
      finite(name, f(spark, dir))
  }

  /** A 100 TB embedding corpus certainly contains zero-norm vectors (failed
    * encoders), exact duplicates, and constant vectors — the geometric
    * degenerates the driver's random embeddings never produce.
    */
  private lazy val embDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_degen_emb").toString
    val rnd = new scala.util.Random(11)
    def unit(): Seq[Float] = {
      val v = Array.fill(SimilarityOps.Dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val a = unit(); val b = unit(); val c = unit(); val e = unit()
    val zero = Seq.fill(SimilarityOps.Dim)(0.0f)
    val rows = Seq(
      (0L, zero, 0),                                      // zero-norm QUERY (vec_id < 5)
      (1L, a, 1),
      (2L, a, 0),                                         // exact duplicate of 1
      (3L, Seq.fill(SimilarityOps.Dim)(0.5f), 1),         // constant positive
      (4L, b, 0),
      (5L, a, 1),                                         // second duplicate of 1
      (6L, Seq.fill(SimilarityOps.Dim)(-0.25f), 0),       // constant, cos = -1 vs 3
      (7L, c, 1),
      (8L, e, 0),
      (9L, zero, 1))                                      // second zero-norm vector
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("similarity operators complete with finite outputs on degenerate embeddings") {
    for ((name, f) <- Seq[(String, (SparkSession, String) => DataFrame)](
        "sim_cosine_topk" -> (SimilarityOps.cosineTopK _),
        "sim_ann_lsh" -> (SimilarityOps.annLsh _),
        "sim_quantize_int8" -> (SimilarityOps.quantizeInt8 _),
        "dedup_embedding_cosine" -> (DedupOps.embeddingCosineDedup _)))
      finite(name, f(spark, embDir))
    // and the dedup semantics hold on the degenerates: the three identical
    // vectors (1, 2, 5) collapse onto canonical 1
    val canon = DedupOps.embeddingCosineDedup(spark, embDir)
      .filter($"vec_id".isin(1L, 2L, 5L))
      .select($"canonical_id").collect().map(_.getLong(0)).toSet
    assert(canon == Set(1L), s"duplicate cluster should canonicalize to 1, got $canon")
  }

  test("best_cell assigns NaN-poisoned embeddings to the lowest centroid, never a phantom cell") {
    // a NaN float in an embedding makes every cosine NaN; Spark's ordering
    // treats NaN as greatest, so the argmax must keep the LOWEST cent_id —
    // a strict > would return the -1 sentinel and silently drop the vector
    // from the IVF index (and create a phantom refit group in k-means)
    graft.plans.GraftFunctions.install(spark)
    val cents = Seq(
      (3, Seq.fill(SimilarityOps.Dim)(0.1f)),
      (7, Seq.fill(SimilarityOps.Dim)(0.2f)))
    val df = Seq(
      (0L, Seq.fill(SimilarityOps.Dim)(Float.NaN)),
      (1L, Seq.fill(SimilarityOps.Dim)(0.5f))).toDF("vec_id", "embedding")
    val out = df.withColumn("b", SimilarityOps.bestCellCol(cents, $"embedding"))
      .select($"vec_id", $"b.cent_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(0L) == 3, s"NaN embedding must land in the lowest cell, got ${out(0L)}")
    assert(Set(3, 7).contains(out(1L)))
  }

  test("banded similarity routes complete with finite outputs on degenerate embeddings") {
    withConf("graft.sim.exact" -> "false") {
      for ((name, f) <- Seq[(String, (SparkSession, String) => DataFrame)](
          "sim_pairs_threshold" -> (SimilarityOps.pairsAboveThreshold _),
          "sim_nearest_same_label" -> (SimilarityOps.nearestSameLabel _),
          "dedup_embedding_cosine" -> (DedupOps.embeddingCosineDedup _)))
        finite(name, f(spark, embDir))
    }
    // the two threshold queries answer exactly on the degenerates: zero
    // vectors (cosine 0 with everything, themselves included), duplicates
    // and antipodal constants
    for (f <- Seq[(SparkSession, String) => DataFrame](
        SimilarityOps.pairsAboveThreshold, DedupOps.embeddingCosineDedup)) {
      def rows = f(spark, embDir).collect().map(_.toString).toSeq
      val exact = withConf("graft.sim.exact" -> "true")(rows)
      val banded = withConf("graft.sim.exact" -> "false")(rows)
      assert(exact.nonEmpty && banded == exact,
        s"missing=${exact.toSet -- banded.toSet} spurious=${banded.toSet -- exact.toSet}")
    }
  }

  test("a ragged embedding fails both threshold queries loudly on both routes") {
    // neither route may answer around a vector of the wrong length: the
    // exact scan's dot_product and the banded route's lsh_probes both
    // refuse it, so no knob turns a ragged corpus into silently fewer pairs
    val d = java.nio.file.Files.createTempDirectory("graft_degen_ragged").toString
    val rnd = new scala.util.Random(13)
    ((0L until 6L).map(i => (i, Seq.fill(SimilarityOps.Dim)(rnd.nextFloat()), (i % 2).toInt)) :+
        ((6L, Seq.fill(SimilarityOps.Dim - 1)(rnd.nextFloat()), 0)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    for ((name, f) <- Seq[(String, (SparkSession, String) => DataFrame)](
        "sim_pairs_threshold" -> (SimilarityOps.pairsAboveThreshold _),
        "dedup_embedding_cosine" -> (DedupOps.embeddingCosineDedup _));
        exact <- Seq("true", "false")) {
      val e = intercept[Exception](withConf("graft.sim.exact" -> exact)(f(spark, d).collect()))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.matches("(?s).*(length mismatch|!= plane dim).*")),
        s"$name exact=$exact: ${msgs.mkString(" | ")}")
    }
  }
}
