package graft

import graft.core.Tables
import org.apache.spark.sql.types._

/** Testdata-drift guard (round-8 postmortem).
  *
  * In round 8 the driver regenerated the fixtures and events.ts changed
  * physical type (NANOS → MICROS); the loader threw on every events read and
  * 30 of 125 registered queries silently vanished from the correctness gate,
  * because Verify only stderr-logged per-query failures. This suite turns any
  * future loader/schema drift into named, loud failures BEFORE a commit:
  *
  *  1. schema pinning — each table's load-bearing columns must come out of
  *     the [[Tables]] loaders with the type the engine's queries assume;
  *     a mismatch fails with the table+column name and both types;
  *  2. analysis sweep — every [[SparkEntry.queries]] entry must at least
  *     analyze against the real sf0.001 fixtures; failures are aggregated so
  *     one run names every broken query, not just the first.
  *
  * Analysis (`queryExecution.analyzed`) is resolution-only — no jobs run for
  * the lazy entries, so the sweep is cheap; entries that execute work at
  * construction time (streaming runs, k-means fits) stay sub-second at
  * sf0.001.
  */
class AnalysisGuardSpec extends SparkSpec {

  /** Per-table requirements: what the ENGINE assumes after its loader, not a
    * full pin of the driver's physical schema (nullable/width drift that no
    * query depends on should not fail the build). `None` = any timestamp
    * flavor is acceptable (NTZ vs LTZ both work for the date comparisons in
    * the TPC-H-ish queries; the oracle reads the same file).
    */
  private val required: Map[String, Seq[(String, Option[DataType])]] = Map(
    "region"     -> Seq("r_regionkey" -> Some(IntegerType), "r_name" -> Some(StringType)),
    "nation"     -> Seq("n_nationkey" -> Some(IntegerType), "n_name" -> Some(StringType),
                        "n_regionkey" -> Some(IntegerType)),
    "customer"   -> Seq("c_custkey" -> Some(LongType), "c_nationkey" -> Some(IntegerType),
                        "c_acctbal" -> Some(DoubleType), "c_mktsegment" -> Some(StringType)),
    "supplier"   -> Seq("s_suppkey" -> Some(LongType), "s_nationkey" -> Some(IntegerType),
                        "s_acctbal" -> Some(DoubleType)),
    "part"       -> Seq("p_partkey" -> Some(LongType), "p_brand" -> Some(StringType),
                        "p_size" -> Some(IntegerType), "p_retailprice" -> Some(DoubleType)),
    "orders"     -> Seq("o_orderkey" -> Some(LongType), "o_custkey" -> Some(LongType),
                        "o_totalprice" -> Some(DoubleType), "o_orderdate" -> None),
    "lineitem"   -> Seq("l_orderkey" -> Some(LongType), "l_partkey" -> Some(LongType),
                        "l_quantity" -> Some(DoubleType), "l_extendedprice" -> Some(DoubleType),
                        "l_discount" -> Some(DoubleType), "l_returnflag" -> Some(StringType),
                        "l_shipdate" -> None),
    // ts is pinned HARD to TimestampType: that is the loader's normalization
    // contract (Tables.normalizeTs) and what window()/watermarks consume
    "events"     -> Seq("event_id" -> Some(LongType), "ts" -> Some(TimestampType),
                        "user_id" -> Some(LongType), "event_type" -> Some(StringType),
                        "value" -> Some(DoubleType), "props" -> Some(StringType)),
    "documents"  -> Seq("doc_id" -> Some(LongType), "text" -> Some(StringType),
                        "lang" -> Some(StringType), "source" -> Some(StringType),
                        "n_chars" -> Some(LongType)),
    "embeddings" -> Seq("vec_id" -> Some(LongType),
                        "embedding" -> Some(ArrayType(FloatType)), "label" -> Some(IntegerType)))

  private def loaderOf(name: String) = name match {
    case "events" => Tables.events(spark, sfDir)
    case n        => Tables.load(spark, sfDir, n)
  }

  test("testdata schemas match what the engine's loaders/queries assume") {
    val problems = Tables.names.flatMap { t =>
      // a loader that THROWS (round 8's actual failure mode) is itself a
      // named finding, not a suite error
      val loaded = try Right(loaderOf(t).schema) catch {
        case e: Throwable => Left(Seq(s"$t: loader threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")))
      }
      loaded.fold(identity, schema =>
      required(t).flatMap { case (col, want) =>
        schema.find(_.name == col) match {
          case None => Some(s"$t.$col: column MISSING from testdata (have: " +
            schema.fieldNames.mkString(", ") + ")")
          case Some(f) => want match {
            case Some(dt) if f.dataType != dt =>
              if (t == "events" && col == "ts")
                Some(s"$t.$col: loader normalization broke — expected $dt after " +
                  s"Tables.events, got ${f.dataType}; extend Tables.normalizeTs " +
                  "for the new physical type")
              else
                Some(s"$t.$col: expected $dt, got ${f.dataType} — testdata " +
                  "schema drifted; audit the queries reading this column")
            case Some(_) => None
            case None => // any timestamp flavor
              if (f.dataType == TimestampType || f.dataType == TimestampNTZType) None
              else Some(s"$t.$col: expected a timestamp type, got ${f.dataType}")
          }
        }
      })
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  test("every registered query analyzes against the current testdata") {
    // each query on a fresh session, which has none of graft's functions
    // yet: a query that resolves one before its first Tables load (the
    // install point) fails here instead of passing on functions an earlier
    // query left behind
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark.newSession(), sfDir).queryExecution.analyzed; None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" "))
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} of ${SparkEntry.queries.size} queries failed analysis " +
        s"on $sfDir:\n" + failures.mkString("\n"))
  }
}
