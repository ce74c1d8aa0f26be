package graft.plans

import graft.expr.LshFirstShared
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BasePredicate, Expression, ExpressionSet, IsNotNull, JoinedRow, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** The banded self-join's pairing step: every candidate pair of a band
  * bucket, kept only at its canonical discovery.
  *
  * Hadoop-20's near-dup jobs send each document to the reducer of its band
  * bucket, and the reducer compares the bucket's members pairwise. This
  * node is that reducer. Its child holds one slot row per (row, band key)
  * and is clustered on the bucket `keys` (`tbl`, `bucket` and any `within`
  * columns). Each partition's slot rows are grouped by key in a hash map,
  * and each group's pairs are walked in a plain loop:
  *  - unprobed (`probeBits = 0`), each unordered pair once, as
  *    `id1 < id2`; equal ids meet no pair;
  *  - probed, every slot row against every base row (slot position
  *    `pos % (1 + probeBits) == 0`) of its group, side one the slot row.
  * Each pair runs [[LshFirstShared.compute]] over both rows' key arrays
  * (`bandKeys`, with the dropped buckets `overCap`) and is kept only when
  * the result is side one's slot `pos`; then the caller's `condition`. A
  * row with a null key, id or key array meets no pair, as under the
  * equi-join this replaces. Each kept pair leaves as `keys ++ side ++
  * other`: `side` are side one's columns of the child, `other` new
  * attributes holding the same columns of side two.
  *
  * A group holds at most the partition's slot rows, the build side of the
  * shuffled hash join this replaces; the rows are held on the heap and do
  * not spill. Unlike a join, a skewed partition cannot be split by AQE:
  * the bucket caps are the tool for hot buckets (SCALE.md "Grouped band
  * pairs").
  */
case class BandPairs(keys: Seq[Attribute], pos: Attribute, bandKeys: Attribute,
    probeBits: Int, overCap: Seq[Seq[Long]], side: Seq[Attribute], other: Seq[Attribute],
    condition: Option[Expression], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = keys ++ side ++ other
  override def producedAttributes: AttributeSet = AttributeSet(other)
  // a pair's keys and ids are never null (a null meets no pair), so
  // consumers infer no IsNotNull filter above the node
  override protected lazy val validConstraints: ExpressionSet =
    ExpressionSet((keys :+ side.head :+ other.head).map(IsNotNull))
  // priced as the equi-join it replaces (slot rows × slot rows): a pair
  // set can be Σ bucket² rows however small its input, so no planner may
  // take it for a broadcastable relation before it has run
  override def stats: Statistics = {
    val in = child.stats.sizeInBytes
    Statistics(sizeInBytes = in * in)
  }
  override def simpleString(maxFields: Int): String =
    BandPairs.describe(keys, probeBits, overCap, condition)
  override protected def withNewChildInternal(newChild: LogicalPlan): BandPairs =
    copy(child = newChild)
}

object BandPairs {
  /** The node's one-line form; a cap's dropped buckets are counted, not
    * listed. */
  def describe(keys: Seq[Attribute], probeBits: Int, overCap: Seq[Seq[Long]],
      condition: Option[Expression]): String =
    s"BandPairs keys=${keys.mkString("[", ", ", "]")}, probeBits=$probeBits, " +
      s"overCapBuckets=${overCap.map(_.size).sum}, condition=${condition.getOrElse("none")}"

  /** The pairs of `input`, a frame already holding one slot row per band
    * key: `keys` name the bucket columns, `pos` the slot position,
    * `bandKeys` each row's whole key array (`array<int>` or
    * `array<bigint>`), and `sides` each carried column with the name its
    * copy from side two takes (`"v1" -> "v2"`). `test` is resolved
    * against the output columns, so it reads both sides by name.
    */
  def apply(input: DataFrame, keys: Seq[String], pos: String, bandKeys: String,
      probeBits: Int, overCap: Seq[Seq[Long]], sides: Seq[(String, String)],
      test: Option[Column]): DataFrame = {
    val spark = input.sparkSession
    GraftFunctions.install(spark)
    val plan = input.queryExecution.analyzed
    def attr(name: String) = plan.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"band pairs: no column $name"))
    val pr = attr(bandKeys)
    require(pr.dataType match {
      case ArrayType(IntegerType | LongType, _) => true
      case _ => false
    }, s"band pairs: keys must be array<int> or array<bigint>, got ${pr.dataType.simpleString}")
    val side = sides.map(s => attr(s._1))
    require(Seq(IntegerType, LongType).contains(side.head.dataType),
      s"band pairs: ids must be int or bigint, got ${side.head.dataType.simpleString}")
    val other = side.zip(sides).map { case (a, (_, as)) =>
      AttributeReference(as, a.dataType, a.nullable, a.metadata)() }
    val node = BandPairs(keys.map(attr), attr(pos), pr, probeBits, overCap, side, other,
      None, plan)
    def frame(p: LogicalPlan): DataFrame = new org.apache.spark.sql.classic.Dataset(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], p, Encoders.row(p.schema))
    val condition = test.map(t => frame(node).select(t.as("t")).queryExecution.analyzed match {
      case Project(Seq(Alias(c, _)), _) => c
      case other => throw new IllegalStateException(s"band pairs: unresolved test $other")
    })
    frame(node.copy(condition = condition))
  }
}

/** Plans [[BandPairs]] as [[BandPairsExec]]. Installed with
  * [[GraftFunctions.install]] or [[GraftExtensions]], next to [[SmallSort]]. */
object BandPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case b: BandPairs => BandPairsExec(b.keys, b.pos, b.bandKeys, b.probeBits, b.overCap,
      b.side, b.other, b.condition, planLater(b.child)) :: Nil
    case _ => Nil
  }
}

/** The physical [[BandPairs]]. Its child is clustered on `keys`: by the
  * caller's fan-out repartition, or by the exchange `EnsureRequirements`
  * adds for its required distribution. Its metrics count the groups, the
  * pairs the canonical rule tested, the canonical pairs and the pairs
  * that also passed the condition (the output rows).
  */
case class BandPairsExec(keys: Seq[Attribute], pos: Attribute, bandKeys: Attribute,
    probeBits: Int, overCap: Seq[Seq[Long]], side: Seq[Attribute], other: Seq[Attribute],
    condition: Option[Expression], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = keys ++ side ++ other
  override def producedAttributes: AttributeSet = AttributeSet(other)
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"),
    "numTested" -> SQLMetrics.createMetric(sparkContext, "pairs tested"),
    "numCanonical" -> SQLMetrics.createMetric(sparkContext, "canonical pairs"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def simpleString(maxFields: Int): String =
    BandPairs.describe(keys, probeBits, overCap, condition)
  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |Input [${child.output.size}]: ${child.output.mkString("[", ", ", "]")}
       |Arguments: ${BandPairs.describe(keys, probeBits, overCap, condition).stripPrefix(nodeName + " ")}
       |""".stripMargin

  protected override def doExecute(): RDD[InternalRow] = {
    val (groups, tested, canonical, outRows) = (longMetric("numGroups"),
      longMetric("numTested"), longMetric("numCanonical"), longMetric("numOutputRows"))
    val in = child.output
    // side two's columns, bound at their child ordinals past side one's;
    // a child column with no side-two copy gets an attribute nothing reads
    val twoOf = side.map(_.exprId).zip(other).toMap
    val joinedInput = in ++ in.map(a => twoOf.getOrElse(a.exprId, a.newInstance()))
    val idOrd = in.indexWhere(_.exprId == side.head.exprId)
    val posOrd = in.indexWhere(_.exprId == pos.exprId)
    val keysOrd = in.indexWhere(_.exprId == bandKeys.exprId)
    val idIsLong = side.head.dataType == LongType
    val wide = bandKeys.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val over = LshFirstShared.overCapArrays(overCap)
    val (bits, keyExprs, outExprs, cond, schema) =
      (probeBits, keys, output, condition, child.schema)
    child.execute().mapPartitionsWithIndex { (index, rows) =>
      val keyOf = UnsafeProjection.create(keyExprs, in)
      val toUnsafe = UnsafeProjection.create(schema)
      val project = UnsafeProjection.create(outExprs, joinedInput)
      val test = cond.map { c =>
        val p = Predicate.create(c, joinedInput)
        p.initialize(index)
        p
      }
      val byKey = new java.util.HashMap[UnsafeRow, BandGroup]()
      while (rows.hasNext) {
        val r = rows.next()
        val key = keyOf(r)
        if (!key.anyNull && !r.isNullAt(idOrd) && !r.isNullAt(keysOrd)) {
          var g = byKey.get(key)
          if (g == null) { g = new BandGroup; byKey.put(key.copy(), g) }
          val row = r match {
            case u: UnsafeRow => u.copy()
            case other => toUnsafe(other).copy()
          }
          g.add(row, if (idIsLong) row.getLong(idOrd) else row.getInt(idOrd),
            row.getInt(posOrd), row.getArray(keysOrd))
        }
      }
      groups += byKey.size
      new PairIterator(byKey.values.iterator, bits, over, wide, test, project,
        tested, canonical, outRows)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BandPairsExec =
    copy(child = newChild)
}

/** One bucket's slot rows, with each row's id, slot position and key
  * array read once. */
private final class BandGroup {
  var n = 0
  var rows = new Array[UnsafeRow](4)
  var ids = new Array[Long](4)
  var pos = new Array[Int](4)
  var keys = new Array[ArrayData](4)

  def add(row: UnsafeRow, id: Long, p: Int, k: ArrayData): Unit = {
    if (n == rows.length) {
      rows = java.util.Arrays.copyOf(rows, 2 * n)
      ids = java.util.Arrays.copyOf(ids, 2 * n)
      pos = java.util.Arrays.copyOf(pos, 2 * n)
      keys = java.util.Arrays.copyOf(keys, 2 * n)
    }
    rows(n) = row; ids(n) = id; pos(n) = p; keys(n) = k
    n += 1
  }
}

/** Walks each group's pairs lazily and yields the kept ones, projected.
  * Unprobed, `(i, j)` runs over `i < j` and the lower id is side one;
  * probed, `i` over every row and `j` over the group's base rows. */
private final class PairIterator(groups: java.util.Iterator[BandGroup], probeBits: Int,
    over: Array[Array[Long]], wide: Boolean, test: Option[BasePredicate],
    project: UnsafeProjection, tested: SQLMetric, canonical: SQLMetric, outRows: SQLMetric)
    extends Iterator[InternalRow] {
  private val stride = 1 + probeBits
  private val joined = new JoinedRow
  private var g: BandGroup = _
  private var bases = new Array[Int](0)
  private var nBases = 0
  private var i = 0
  private var j = 0
  private var next0: InternalRow = _

  private def nextGroup(): Boolean = {
    g = null
    while (g == null && groups.hasNext) {
      val c = groups.next()
      if (c.n > 1) g = c
    }
    if (g != null && probeBits > 0) {
      if (bases.length < g.n) bases = new Array[Int](g.n)
      nBases = 0
      var k = 0
      while (k < g.n) {
        if (g.pos(k) % stride == 0) { bases(nBases) = k; nBases += 1 }
        k += 1
      }
    }
    i = 0
    j = if (probeBits == 0) 1 else 0
    g != null
  }

  /** Tests pair (a, b), side one `a`; true when it is kept. */
  private def keep(a: Int, b: Int, aIsLower: Boolean): Boolean = {
    tested += 1
    LshFirstShared.compute(g.keys(a), g.keys(b), aIsLower, probeBits, over, wide) == g.pos(a) && {
      canonical += 1
      joined(g.rows(a), g.rows(b))
      test.forall(_.eval(joined))
    }
  }

  /** Advances to the next kept pair; false when every group is done. */
  private def advance(): Boolean = {
    if (g == null && !nextGroup()) return false
    while (true) {
      if (probeBits == 0) {
        while (i < g.n - 1) {
          while (j < g.n) {
            val b = j
            j += 1
            if (g.ids(i) < g.ids(b) && keep(i, b, aIsLower = true) ||
                g.ids(b) < g.ids(i) && keep(b, i, aIsLower = true)) return true
          }
          i += 1
          j = i + 1
        }
      } else {
        while (i < g.n) {
          while (j < nBases) {
            val b = bases(j)
            j += 1
            // a row against its own base slot is never canonical
            if (b != i && keep(i, b, g.ids(i) < g.ids(b))) return true
          }
          i += 1
          j = 0
        }
      }
      if (!nextGroup()) return false
    }
    false
  }

  override def hasNext: Boolean = next0 != null || {
    if (advance()) next0 = project(joined)
    next0 != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = next0
    next0 = null
    outRows += 1
    r
  }
}
