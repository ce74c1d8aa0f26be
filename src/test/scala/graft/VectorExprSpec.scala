package graft

import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def df2(a: Seq[Float], b: Seq[Float]) = {
    GraftFunctions.install(spark)
    Seq((a, b)).toDF("a", "b")
  }

  private def scalaCos(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  test("cosine_sim matches a scala model") {
    val rnd = new scala.util.Random(1)
    (1 to 20).foreach { _ =>
      val a = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
      val b = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
      val got = df2(a, b).select(expr("cosine_sim(a, b)")).collect().head.getDouble(0)
      assert(math.abs(got - scalaCos(a, b)) < 1e-12)
    }
  }

  test("cosine_sim: identical vectors → 1, orthogonal → 0, opposite → -1") {
    val v = Seq.fill(8)(0.5f)
    assert(math.abs(df2(v, v).select(expr("cosine_sim(a,b)")).collect().head.getDouble(0) - 1.0) < 1e-12)
    val e1 = Seq(1f, 0f); val e2 = Seq(0f, 1f)
    assert(df2(e1, e2).select(expr("cosine_sim(a,b)")).collect().head.getDouble(0) == 0.0)
    assert(math.abs(df2(e1.map(-_), e1).select(expr("cosine_sim(a,b)")).collect().head.getDouble(0) + 1.0) < 1e-12)
  }

  test("zero vector → 0.0 (not NaN)") {
    val z = Seq(0f, 0f); val v = Seq(1f, 2f)
    assert(df2(z, v).select(expr("cosine_sim(a,b)")).collect().head.getDouble(0) == 0.0)
  }

  test("null input → null (null-intolerant)") {
    GraftFunctions.install(spark)
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]])).toDF("a", "b")
    assert(df.select(expr("cosine_sim(a, b)")).collect().head.isNullAt(0))
  }

  test("length mismatch fails loudly") {
    val ex = intercept[Exception] {
      df2(Seq(1f, 2f), Seq(1f, 2f, 3f)).select(expr("cosine_sim(a,b)")).collect()
    }
    assert(ex.getMessage != null)
  }

  test("interpreted eval matches codegen") {
    GraftFunctions.install(spark)
    val rnd = new scala.util.Random(2)
    val a = Seq.fill(64)(rnd.nextFloat()); val b = Seq.fill(64)(rnd.nextFloat())
    val codegen = df2(a, b).select(expr("cosine_sim(a,b)")).collect().head.getDouble(0)
    val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(
      df2(a, b).select(expr("cosine_sim(a,b)")).collect().head.getDouble(0))
    assert(codegen == interp)
  }

  test("dot_product matches scala model") {
    val a = Seq(1f, 2f, 3f); val b = Seq(4f, 5f, 6f)
    assert(df2(a, b).select(expr("dot_product(a,b)")).collect().head.getDouble(0) == 32.0)
  }
}
