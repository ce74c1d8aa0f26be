package graft

import graft.core.Tables
import graft.plans.GraftFunctions

/** The engine's SQL-text surface: registered views + `spark.sql` must
  * reproduce the DataFrame-API answers, and graft's native functions must
  * be callable from SQL text (the `SparkSessionExtensions` registration
  * path a cluster would configure via `spark.sql.extensions`).
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("SQL text over registered views equals the DataFrame plan (q1)") {
    Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(_.toString)
    val viaDf = graft.operators.Aggregates.q1PricingSummary(spark, sfDir)
      .select($"l_returnflag", $"l_linestatus", $"sum_qty", $"sum_base_price", $"count_order")
      .collect().map(_.toString)
    assert(viaSql.sameElements(viaDf))
  }

  test("native cosine_sim and dot_product are callable from pure SQL text") {
    Tables.registerAll(spark, sfDir)
    GraftFunctions.install(spark)
    val rows = spark.sql(
      """SELECT vec_id,
        |  cosine_sim(embedding, embedding) AS self_cos,
        |  dot_product(embedding, embedding) AS self_dot
        |FROM embeddings ORDER BY vec_id LIMIT 10""".stripMargin).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9, "self-cosine must be 1")
      assert(r.getDouble(2) > 0.0, "self-dot must be positive")
    }
  }
}
