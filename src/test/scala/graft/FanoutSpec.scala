package graft

import graft.core.{Fanout, Knobs, Tables}
import graft.expr.Int8Keep
import graft.functions.SimilarityOps
import graft.plans.GraftFunctions
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

/** [[graft.core.Fanout]]: one repartition to the session's parallelism when
  * the input files cannot fill it, and a pass-through everywhere else; and
  * its use as the banded candidate self-join's exchange, where AQE would
  * otherwise merge the Σ bucket² join work into one task.
  */
class FanoutSpec extends SparkSpec {
  import spark.implicits._

  private def parallelism = spark.sparkContext.defaultParallelism

  private def repartitions(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect { case r: RepartitionByExpression => r }

  test("an in-memory frame (no input files) passes through untouched") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(Fanout.maybeFanout(df, $"k") eq df)
  }

  test("a frame whose files can fill the parallelism passes through untouched") {
    // the production no-op path: AQE's merging and skew split stay in charge
    val file = java.nio.file.Paths.get(sfDir, "embeddings.parquet")
    val maxPartitionBytes = java.nio.file.Files.size(file) / parallelism
    withConf("spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString) {
      val df = Tables.embeddings(spark, sfDir)
      assert(Fanout.maybeFanout(df, $"vec_id") eq df)
    }
  }

  test("a one-file frame gets exactly one repartition on the given keys") {
    val df = Tables.embeddings(spark, sfDir)
    val out = Fanout.maybeFanout(df, $"vec_id", $"label")
    val rs = repartitions(out)
    assert(rs.size == 1, s"expected one repartition:\n${out.queryExecution.analyzed}")
    assert(rs.head.optNumPartitions.contains(parallelism))
    assert(rs.head.partitionExpressions.map(_.asInstanceOf[Attribute].name) ==
      Seq("vec_id", "label"))
    assert(out.select($"vec_id").as[Long].collect().sorted.toSeq ==
      df.select($"vec_id").as[Long].collect().sorted.toSeq)
  }

  test("banded self-join runs on every core: unmerged (tbl, bucket) exchange, same pairs") {
    val theta = 0.4
    val cand = SimilarityOps.lshCandidateIds(spark, sfDir, Knobs.Pairs(spark),
      prefilterTheta = Some(theta))
    var pairs = Set.empty[(Long, Long)]
    val stages = stagesOf {
      pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // (1) the join reads a caller-sized partitioning AQE cannot coalesce,
    // and no second exchange on (tbl, bucket) is planned next to it
    val plan = cand.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val tblExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(tbl")).toSeq
    assert(tblExchanges.nonEmpty && tblExchanges.forall(_.contains("REPARTITION_BY_NUM")),
      s"expected only the fan-out exchange on (tbl, bucket):\n$plan")
    // (2) the self-join stage — the one stage that both reads the bucket
    // exchange and writes the pair-distinct exchange — runs one task per core
    val joinStages = stages.filter(s =>
      s.taskMetrics.shuffleReadMetrics.totalBytesRead > 0 &&
        s.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
    assert(joinStages.map(_.numTasks) == Seq(parallelism),
      s"stages (tasks, read, written): ${stages.map(s => (s.numTasks,
        s.taskMetrics.shuffleReadMetrics.totalBytesRead,
        s.taskMetrics.shuffleWriteMetrics.bytesWritten))}")
    // (3) the pairs are every pair sharing a bucket in some table that the
    // int8 prefilter keeps, computed on the driver
    GraftFunctions.install(spark)
    val vecs = Tables.embeddings(spark, sfDir)
      .filter($"embedding".isNotNull)
      .select($"vec_id", expr("lsh_probes(embedding, 16, 2, 0)"),
        expr("int8_enc(embedding)"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getAs[Array[Byte]](2)))
    val ref = (for {
      (v1, b1, e1) <- vecs.iterator
      (v2, b2, e2) <- vecs.iterator
      if v1 < v2 && b1.zip(b2).exists { case (x, y) => x == y }
      if Int8Keep(Literal(e1), Literal(e2), theta).eval() == true
    } yield (v1, v2)).toSet
    assert(ref.nonEmpty)
    assert(pairs == ref, s"missing=${(ref -- pairs).take(5)} spurious=${(pairs -- ref).take(5)}")
  }
}
