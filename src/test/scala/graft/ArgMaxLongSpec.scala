package graft

import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** arg_max_long semantics — must be indistinguishable from the
  * max_by(struct(id, score), struct(score, -id)) form it replaced
  * (ties → lowest id, NaN greatest, nulls ignored), while planning as a
  * HashAggregate (PlanSpec pins the plan side).
  */
class ArgMaxLongSpec extends SparkSpec {
  import spark.implicits._

  private def agg(rows: Seq[(Long, java.lang.Double)]): Option[(Long, Double)] = {
    GraftFunctions.install(spark)
    val r = rows.toDF("id", "score")
      .agg(expr("arg_max_long(id, score)").as("b"))
      .select($"b.id", $"b.score").head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getDouble(1)))
  }

  test("argmax with distinct scores") {
    assert(agg(Seq((1L, 0.5), (2L, 0.9), (3L, 0.7))) == Some((2L, 0.9)))
  }

  test("score ties go to the LOWEST id, regardless of row order") {
    assert(agg(Seq((7L, 0.9), (3L, 0.9), (5L, 0.9))) == Some((3L, 0.9)))
    assert(agg(Seq((3L, 0.9), (5L, 0.9), (7L, 0.9))) == Some((3L, 0.9)))
  }

  test("NaN ranks greatest — same as Spark's double ordering and max_by") {
    assert(agg(Seq((1L, 0.99), (2L, Double.NaN))).map(_._1) == Some(2L))
  }

  test("null scores are ignored; all-null group yields null") {
    assert(agg(Seq((1L, null), (2L, 0.4))) == Some((2L, 0.4)))
    assert(agg(Seq((1L, null), (2L, null))) == None)
  }

  test("null ids are ignored too — a winning null id must not corrupt the buffer") {
    GraftFunctions.install(spark)
    val r = Seq((Some(2L), 0.4), (Option.empty[Long], 0.9))
      .toDF("id", "score")
      .agg(expr("arg_max_long(id, score)").as("b"))
      .select($"b.id", $"b.score").head()
    assert((r.getLong(0), r.getDouble(1)) == ((2L, 0.4)))
  }

  test("a genuine (Long.MaxValue, -Infinity) row is returned, not masked") {
    // the old implementation flagged the empty buffer with exactly this
    // sentinel pair, so such a row evaluated to null and could be
    // shadow-masked; the boolean `seen` slot makes it a real answer
    assert(agg(Seq((Long.MaxValue, Double.NegativeInfinity))) ==
      Some((Long.MaxValue, Double.NegativeInfinity)))
    // and it loses to any better row, but masks nothing when it wins
    assert(agg(Seq((Long.MaxValue, Double.NegativeInfinity), (1L, 0.0))) ==
      Some((1L, 0.0)))
    assert(agg(Seq((4L, Double.NegativeInfinity), (2L, Double.NegativeInfinity))) ==
      Some((2L, Double.NegativeInfinity)))
  }

  test("matches max_by(struct, struct) row-for-row on random grouped data") {
    GraftFunctions.install(spark)
    val rnd = new scala.util.Random(5)
    // duplicate scores on purpose: tie-break coverage
    val rows = Seq.tabulate(2000)(i =>
      (rnd.nextInt(40).toLong, i.toLong, math.floor(rnd.nextDouble() * 50) / 50))
    val df = rows.toDF("g", "id", "score")
    val got = df.groupBy($"g").agg(expr("arg_max_long(id, score)").as("b"))
      .select($"g", $"b.id", $"b.score").collect().map(_.toString).sorted
    val want = df.groupBy($"g")
      .agg(max_by(struct($"id", $"score"), struct($"score", (-$"id").as("n"))).as("b"))
      .select($"g", $"b.id", $"b.score").collect().map(_.toString).sorted
    assert(got.sameElements(want))
  }
}
