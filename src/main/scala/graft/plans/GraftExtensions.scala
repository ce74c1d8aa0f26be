package graft.plans

import graft.expr.{ArgMaxLong, BestCell, CosineSimilarity, DotProduct, Int8Enc, Int8Est, Int8Keep, LshProbes, MinhashSig, MinhashSigCard, ShingleCard, ShingleSet, SimhashSig}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

/** Registers graft's native Catalyst functions and its planner strategies
  * ([[SmallSort]], [[BandPairsStrategy]]).
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` (cluster config)
  *    injects them;
  *  - on an existing session (what Verify/Bench, the benchmark and the specs
  *    use), [[GraftFunctions.install]] adds them. [[graft.core.Tables.load]]
  *    calls it, so every query that reads a table has them; only code that
  *    resolves a function before its first load calls it directly.
  * Both paths add the same strategy objects, and `install` skips a
  * strategy a session already has. After either, `cosine_sim` / `dot_product`
  * are available in SQL text and via `expr(...)`, fully inside whole-stage
  * codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    GraftFunctions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftFunctions {
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity], 2, "2 arguments")(
      args => CosineSimilarity(args.head, args(1))),
    fn("dot_product", classOf[DotProduct], 2, "2 arguments")(
      args => DotProduct(args.head, args(1))),
    fn("lsh_probes", classOf[LshProbes], 4,
        "(embedding, nTables, planesPerTable, probeBits)")(
      args => LshProbes(args.head, intArg("lsh_probes", "nTables", args(1)),
        intArg("lsh_probes", "planesPerTable", args(2)),
        intArg("lsh_probes", "probeBits", args(3)))),
    fn("minhash_sig", classOf[MinhashSig], 2, "(normalized_text, numHashes)")(
      args => MinhashSig(args.head, intArg("minhash_sig", "numHashes", args(1)))),
    fn("minhash_sig_card", classOf[MinhashSigCard], 2, "(normalized_text, numHashes)")(
      args => MinhashSigCard(args.head, intArg("minhash_sig_card", "numHashes", args(1)))),
    fn("shingle_card", classOf[ShingleCard], 1, "(normalized_text)")(
      args => ShingleCard(args.head)),
    fn("shingle_set", classOf[ShingleSet], 1, "(normalized_text)")(
      args => ShingleSet(args.head)),
    fn("simhash_sig", classOf[SimhashSig], 1, "(normalized_text)")(
      args => SimhashSig(args.head)),
    fn("int8_enc", classOf[Int8Enc], 1, "(embedding)")(args => Int8Enc(args.head)),
    fn("int8_est", classOf[Int8Est], 2, "(blob1, blob2)")(
      args => Int8Est(args.head, args(1))),
    fn("int8_keep", classOf[Int8Keep], 3, "(blob1, blob2, theta)") { args =>
      // theta must be a foldable numeric literal (a cosine threshold is a
      // query constant, never data); SQL text parses 0.4 as DECIMAL, the
      // Column API builds a Double literal — accept both
      val theta = args(2) match {
        case Literal(v: Double, _) => v
        case Literal(v: Float, _) => v.toDouble
        case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
        // SQL text parses boundary thetas like 0 or 1 as integral literals
        case Literal(v: Int, _) => v.toDouble
        case Literal(v: Long, _) => v.toDouble
        case other => throw new IllegalArgumentException(
          s"int8_keep: theta must be a numeric literal, got $other")
      }
      require(!theta.isNaN && !theta.isInfinite, s"int8_keep: theta must be finite, got $theta")
      Int8Keep(args.head, args(1), theta)
    },
    fn("bloom_probe", classOf[graft.expr.BloomProbe], 2, "(filter_bytes, long_value)") { args =>
      // membership probe against a serialized spark.util.sketch
      // BloomFilter, evaluated INSIDE whole-stage codegen — the
      // decontamination outgrow path's scan-stage probe as a native
      // Predicate instead of a ScalaUDF (r12 verdict #3: the UDF boxed
      // the string and broke codegen at the hottest filter in the
      // engine). The caller's `lit(bytes)` is unwrapped HERE, at
      // resolution time, so the filter rides the plan as BloomProbe's
      // compact byte-array field rather than a BinaryType literal that
      // renders megabytes of hex into every plan string (round-13
      // review; see the kernel's scaladoc).
      // args: (serialized-filter BINARY literal, xxhash64 long)
      val bytes = args.head match {
        case Literal(b: Array[Byte], org.apache.spark.sql.types.BinaryType) => b
        case other => throw new IllegalArgumentException(
          s"bloom_probe: filter must be a binary literal, got $other")
      }
      graft.expr.BloomProbe(bytes, args(1))
    },
    fn("word_bigrams", classOf[graft.expr.WordBigrams], 1, "(token_array)")(
      args => graft.expr.WordBigrams(args.head)),
    fn("rep_stats", classOf[graft.expr.RepStats], 1, "(token_array)")(
      args => graft.expr.RepStats(args.head)),
    fn("count_in", classOf[graft.expr.CountIn], 2, "(token_array, set-literal)") { args =>
      // the set is a query constant (stopword profiles), never data —
      // accept any FOLDABLE string-array expression and fold it here
      require(args(1).foldable,
        s"count_in: set must be a foldable array literal, got ${args(1)}")
      val arr = args(1).eval(null).asInstanceOf[ArrayData]
      val set = (0 until arr.numElements()).map(arr.getUTF8String)
      graft.expr.CountIn(args.head, set)
    },
    fn("count_longer", classOf[graft.expr.CountLonger], 2, "(token_array, n-literal)")(
      args => graft.expr.CountLonger(args.head, intArg("count_longer", "n", args(1)))),
    fn("count_cp_range", classOf[graft.expr.CountCpRange], 3,
        "(text, lo-literal, hi-literal)")(
      args => graft.expr.CountCpRange(args.head,
        intArg("count_cp_range", "lo", args(1)), intArg("count_cp_range", "hi", args(2)))),
    fn("cm_cells", classOf[graft.expr.CmCells], 3, "(term, depth-literal, width-literal)")(
      args => graft.expr.CmCells(args.head,
        intArg("cm_cells", "depth", args(1)), intArg("cm_cells", "width", args(2)))),
    fn("min_md5_shingle", classOf[graft.expr.MinMd5Shingle], 1, "(token_array)")(
      args => graft.expr.MinMd5Shingle(args.head)),
    fn("word_shingles", classOf[graft.expr.WordShingles], 1, "(token_array)")(
      args => graft.expr.WordShingles(args.head)),
    fn("arg_max_long", classOf[ArgMaxLong], 2, "(id, score)")(
      args => ArgMaxLong(args.head, args(1))),
    fn("best_cell", classOf[BestCell], 3,
        "(embedding, ids-literal, centroids-literal)") { args =>
      def arrayLit(e: Expression, what: String): ArrayData = e match {
        case Literal(a: ArrayData, _) => a
        case other => throw new IllegalArgumentException(
          s"best_cell: $what must be an array literal, got $other")
      }
      val ids = arrayLit(args(1), "ids").toIntArray.toSeq
      val centData = arrayLit(args(2), "centroids")
      val cents = Seq.tabulate(centData.numElements())(
        i => centData.getArray(i).toFloatArray().toSeq)
      BestCell(args.head, ids, cents)
    })

  /** The descriptor of SQL function `name` (class `cls`): its builder fails
    * with "`name` takes `usage`" unless it gets `arity` arguments. */
  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name takes $usage")
        build(args)
      })

  /** Argument `what` of function `fn`, which must be an integer literal. */
  private def intArg(fn: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  /** The planner strategies both entry points add. */
  val strategies: Seq[SparkStrategy] = Seq(SmallSort, BandPairsStrategy)

  /** Adds the functions and the [[strategies]] to a live session, skipping
    * whatever it already has. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    }
    val exp = spark.experimental
    def missing = strategies.filterNot(s => exp.extraStrategies.contains(s) ||
      spark.sessionState.planner.extraPlanningStrategies.contains(s))
    if (missing.nonEmpty) exp.synchronized {
      exp.extraStrategies = exp.extraStrategies ++ missing
    }
  }
}
