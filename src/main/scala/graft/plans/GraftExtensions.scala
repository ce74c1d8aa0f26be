package graft.plans

import graft.expr.{ArgMaxLong, BestCell, CosineSimilarity, DotProduct, Int8Enc, Int8Est, Int8Keep, LshBuckets, LshFirstShared, LshProbes, MinhashSig, MinhashSigCard, ShingleCard, SimhashSig}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.IntegerType

/** Registers graft's native Catalyst functions and its planner strategy.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` (cluster config)
  *    injects both;
  *  - on an existing session (what Verify/Bench, the benchmark and the specs
  *    use), [[GraftFunctions.install]] adds both. [[graft.core.Tables.load]]
  *    calls it, so every query that reads a table has them; only code that
  *    resolves a function before its first load calls it directly.
  * Both paths add the same [[SmallSort]] object, and `install` skips a
  * session that already has it. After either, `cosine_sim` / `dot_product`
  * are available in SQL text and via `expr(...)`, fully inside whole-stage
  * codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => SmallSort)
  }
}

object GraftFunctions {
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim takes 2 arguments")
        CosineSimilarity(args.head, args(1))
      }),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product takes 2 arguments")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "lsh_buckets takes (embedding, nTables, planesPerTable)")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"lsh_buckets: $what must be an integer literal, got $other")
        }
        LshBuckets(args.head, intLit(args(1), "nTables"), intLit(args(2), "planesPerTable"))
      }),
    (FunctionIdentifier("lsh_first_shared"),
      new ExpressionInfo(classOf[LshFirstShared].getName, "lsh_first_shared"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "lsh_first_shared takes (buckets1, buckets2)")
        LshFirstShared(args.head, args(1))
      }),
    (FunctionIdentifier("lsh_probes"),
      new ExpressionInfo(classOf[LshProbes].getName, "lsh_probes"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "lsh_probes takes (embedding, nTables, planesPerTable, probeBits)")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"lsh_probes: $what must be an integer literal, got $other")
        }
        LshProbes(args.head, intLit(args(1), "nTables"),
          intLit(args(2), "planesPerTable"), intLit(args(3), "probeBits"))
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sig takes (normalized_text, numHashes)")
        val n = args(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig: numHashes must be an integer literal, got $other")
        }
        MinhashSig(args.head, n)
      }),
    (FunctionIdentifier("minhash_sig_card"),
      new ExpressionInfo(classOf[MinhashSigCard].getName, "minhash_sig_card"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sig_card takes (normalized_text, numHashes)")
        val n = args(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig_card: numHashes must be an integer literal, got $other")
        }
        MinhashSigCard(args.head, n)
      }),
    (FunctionIdentifier("shingle_card"),
      new ExpressionInfo(classOf[ShingleCard].getName, "shingle_card"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "shingle_card takes (normalized_text)")
        ShingleCard(args.head)
      }),
    (FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimhashSig].getName, "simhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash_sig takes (normalized_text)")
        SimhashSig(args.head)
      }),
    (FunctionIdentifier("int8_enc"),
      new ExpressionInfo(classOf[Int8Enc].getName, "int8_enc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "int8_enc takes (embedding)")
        Int8Enc(args.head)
      }),
    (FunctionIdentifier("int8_est"),
      new ExpressionInfo(classOf[Int8Est].getName, "int8_est"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "int8_est takes (blob1, blob2)")
        Int8Est(args.head, args(1))
      }),
    (FunctionIdentifier("int8_keep"),
      new ExpressionInfo(classOf[Int8Keep].getName, "int8_keep"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "int8_keep takes (blob1, blob2, theta)")
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
      }),
    (FunctionIdentifier("bloom_probe"),
      new ExpressionInfo(classOf[graft.expr.BloomProbe].getName, "bloom_probe"),
      (args: Seq[Expression]) => {
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
        require(args.length == 2, "bloom_probe takes (filter_bytes, long_value)")
        val bytes = args.head match {
          case Literal(b: Array[Byte], org.apache.spark.sql.types.BinaryType) => b
          case other => throw new IllegalArgumentException(
            s"bloom_probe: filter must be a binary literal, got $other")
        }
        graft.expr.BloomProbe(bytes, args(1))
      }),
    (FunctionIdentifier("word_bigrams"),
      new ExpressionInfo(classOf[graft.expr.WordBigrams].getName, "word_bigrams"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "word_bigrams takes (token_array)")
        graft.expr.WordBigrams(args.head)
      }),
    (FunctionIdentifier("rep_stats"),
      new ExpressionInfo(classOf[graft.expr.RepStats].getName, "rep_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "rep_stats takes (token_array)")
        graft.expr.RepStats(args.head)
      }),
    (FunctionIdentifier("count_in"),
      new ExpressionInfo(classOf[graft.expr.CountIn].getName, "count_in"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "count_in takes (token_array, set-literal)")
        // the set is a query constant (stopword profiles), never data —
        // accept any FOLDABLE string-array expression and fold it here
        require(args(1).foldable,
          s"count_in: set must be a foldable array literal, got ${args(1)}")
        val arr = args(1).eval(null).asInstanceOf[ArrayData]
        val set = (0 until arr.numElements()).map(arr.getUTF8String)
        graft.expr.CountIn(args.head, set)
      }),
    (FunctionIdentifier("count_longer"),
      new ExpressionInfo(classOf[graft.expr.CountLonger].getName, "count_longer"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "count_longer takes (token_array, n-literal)")
        val n = args(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"count_longer: n must be an integer literal, got $other")
        }
        graft.expr.CountLonger(args.head, n)
      }),
    (FunctionIdentifier("count_cp_range"),
      new ExpressionInfo(classOf[graft.expr.CountCpRange].getName, "count_cp_range"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "count_cp_range takes (text, lo-literal, hi-literal)")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"count_cp_range: $what must be an integer literal, got $other")
        }
        graft.expr.CountCpRange(args.head,
          intLit(args(1), "lo"), intLit(args(2), "hi"))
      }),
    (FunctionIdentifier("cm_cells"),
      new ExpressionInfo(classOf[graft.expr.CmCells].getName, "cm_cells"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "cm_cells takes (term, depth-literal, width-literal)")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"cm_cells: $what must be an integer literal, got $other")
        }
        graft.expr.CmCells(args.head,
          intLit(args(1), "depth"), intLit(args(2), "width"))
      }),
    (FunctionIdentifier("min_md5_shingle"),
      new ExpressionInfo(classOf[graft.expr.MinMd5Shingle].getName, "min_md5_shingle"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "min_md5_shingle takes (token_array)")
        graft.expr.MinMd5Shingle(args.head)
      }),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[graft.expr.WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "word_shingles takes (token_array)")
        graft.expr.WordShingles(args.head)
      }),
    (FunctionIdentifier("arg_max_long"),
      new ExpressionInfo(classOf[ArgMaxLong].getName, "arg_max_long"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "arg_max_long takes (id, score)")
        ArgMaxLong(args.head, args(1))
      }),
    (FunctionIdentifier("best_cell"),
      new ExpressionInfo(classOf[BestCell].getName, "best_cell"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "best_cell takes (embedding, ids-literal, centroids-literal)")
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
      }))

  /** Adds the functions and the [[SmallSort]] strategy to a live session,
    * skipping whatever it already has. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    }
    val exp = spark.experimental
    def installed = exp.extraStrategies.contains(SmallSort) ||
      spark.sessionState.planner.extraPlanningStrategies.contains(SmallSort)
    if (!installed) exp.synchronized {
      if (!installed) exp.extraStrategies = exp.extraStrategies :+ SmallSort
    }
  }
}
