package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import scala.collection.mutable
import scala.reflect.runtime.universe

/** ValueHistogram report: stats over the per-value counts of a key's
  * values — the reference's report minus float stddev (exact long moments
  * instead; mean/stddev derive from total/sumSq).
  * Reference: `src/mapred/.../lib/aggregate/ValueHistogram.java`
  * anchor:`getReport`.
  */
case class HistReport(
    nDistinctValues: Long, minCount: Long, maxCount: Long,
    totalCount: Long, sumSqCount: Long)

/** One-pass ValueHistogram as a typed Aggregator (SURVEY.md §7.2 step 4's
  * flagship custom UDAF): buffer is value→count; merge is map-union — so
  * Catalyst runs it partial/final exactly like the reference's
  * Combiner-enabled histogram job, shuffling only the (distinct-values ×
  * count) map, never rows.
  */
object ValueHistogram extends Aggregator[String, mutable.Map[String, Long], HistReport] {
  override def zero: mutable.Map[String, Long] = mutable.Map.empty

  override def reduce(b: mutable.Map[String, Long], v: String): mutable.Map[String, Long] = {
    b.update(v, b.getOrElse(v, 0L) + 1L); b
  }

  override def merge(a: mutable.Map[String, Long], b: mutable.Map[String, Long]): mutable.Map[String, Long] = {
    b.foreach { case (k, n) => a.update(k, a.getOrElse(k, 0L) + n) }; a
  }

  override def finish(m: mutable.Map[String, Long]): HistReport = {
    if (m.isEmpty) HistReport(0, 0, 0, 0, 0)
    else {
      var mn = Long.MaxValue; var mx = Long.MinValue; var tot = 0L; var sq = 0L
      m.valuesIterator.foreach { c =>
        if (c < mn) mn = c; if (c > mx) mx = c; tot += c; sq += c * c
      }
      HistReport(m.size.toLong, mn, mx, tot, sq)
    }
  }

  // kryo stays here: the buffer is a mutable Map (O(1) per-row updates;
  // an immutable-Map or struct buffer would allocate per row), which has
  // no product encoder. Kryo requires the JVM module opens every supported
  // Spark launcher adds (`--add-opens java.base/java.nio` among them) —
  // an ad-hoc bare-`java` launch without them fails any kryo encoder with
  // EXPRESSION_ENCODING_FAILED (see SCALE.md round 13, bench sentinel).
  override def bufferEncoder: Encoder[mutable.Map[String, Long]] =
    Encoders.kryo[mutable.Map[String, Long]]
  override def outputEncoder: Encoder[HistReport] = Encoders.product[HistReport]
}

/** Output of [[CappedUniq]]. */
case class UniqReport(nDistinct: Long, items: Seq[Long])

/** UniqValueCount with the reference's item cap: exact distinct count plus
  * at most `cap` retained items (sorted, so the retained set is
  * deterministic — the reference kept insertion order, which isn't
  * reproducible distributed).
  * Reference: `.../lib/aggregate/UniqValueCount.java` anchor:`maxNumItems`.
  */
class CappedUniq(cap: Int) extends Aggregator[Long, mutable.Set[Long], UniqReport] {
  override def zero: mutable.Set[Long] = mutable.Set.empty
  override def reduce(b: mutable.Set[Long], v: Long): mutable.Set[Long] = { b += v; b }
  override def merge(a: mutable.Set[Long], b: mutable.Set[Long]): mutable.Set[Long] = a ++= b
  override def finish(s: mutable.Set[Long]): UniqReport =
    UniqReport(s.size.toLong, s.toSeq.sorted.take(cap))
  override def bufferEncoder: Encoder[mutable.Set[Long]] =
    Encoders.kryo[mutable.Set[Long]] // mutable buffer, no product form — see ValueHistogram
  override def outputEncoder: Encoder[UniqReport] = Encoders.product[UniqReport]
}

/** One scored record flowing into [[TopKAgg]]. */
case class Scored(score: Double, key: Long)

/** Bounded-top-k buffer; the element count rides along because
  * `List.length` is O(n) and the insert path must stay O(1).
  */
case class TopKBuf[S](n: Int, items: List[S])

abstract class BoundedTopK[S: universe.TypeTag](k: Int, ord: Ordering[S])
    extends Aggregator[S, TopKBuf[S], Seq[S]] {
  // product (struct) buffer encoder, NOT Encoders.kryo — single-sourced
  // here so every concrete heap aggregator inherits it, and the concrete
  // aggregators are final so none can swap in kryo: the buffer is a plain
  // case class, so the Tungsten struct form ships typed partial rows at the shuffle,
  // and Kryo-encoding ANY Scala object fails with an opaque
  // EXPRESSION_ENCODING_FAILED on a JVM launched without Spark's
  // `--add-opens java.base/java.nio` (chill's registrar needs ByteBuffer
  // reflection; every supported launcher adds the opens — see SCALE.md
  // round 13, bench sentinel).
  override def bufferEncoder: Encoder[TopKBuf[S]] = Encoders.product[TopKBuf[S]]
  // Amortized O(log k) insert for ANY k (sourceMixResample instantiates
  // this with corpus-scale quotas, not just k=3): prepend until the buffer
  // holds 2k candidates, then one O(k log k) sort-trim pays for the k
  // preceding prepends (k log k work / k inserts = log k each; merges of
  // two near-full buffers are likewise O(k log k) apiece). Trimming on
  // EVERY insert would re-sort the whole buffer per row — fine at k=3,
  // quadratic at quota scale. The partial shipped at shuffle time may
  // carry up to 2k-1 candidates instead of k; that 2× is the price of
  // cheap inserts.
  private def trim(l: List[S]): List[S] = l.sorted(ord).take(k)
  override def zero: TopKBuf[S] = TopKBuf(0, Nil)
  override def reduce(b: TopKBuf[S], v: S): TopKBuf[S] =
    if (b.n + 1 >= 2 * k) { val t = trim(v :: b.items); TopKBuf(t.length, t) }
    else TopKBuf(b.n + 1, v :: b.items)
  override def merge(a: TopKBuf[S], b: TopKBuf[S]): TopKBuf[S] =
    if (a.n + b.n >= 2 * k) { val t = trim(a.items ::: b.items); TopKBuf(t.length, t) }
    else TopKBuf(a.n + b.n, a.items ::: b.items)
  override def finish(l: TopKBuf[S]): Seq[S] = trim(l.items)
}

object BoundedTopK {
  /** Ranked top-k per group: `groups ++ (rank, key, score)`, the `k`
    * highest-scoring rows of each group numbered from 1 (score desc, then
    * key asc), with `key` and `score` under their input names and `score`
    * as a double. The one place a query builds a heap aggregator: a string
    * key runs [[TopKStrAgg]] (UTF-8 binary tie order), any other key
    * [[TopKAgg]]. Map-side partial heaps mean the shuffle carries ≤ k rows
    * per (group, partition), where a window `row_number` shuffles and sorts
    * every row — the per-mapper-heap top-k of the reference (SURVEY §2.6),
    * per group and map-combined. A group smaller than k keeps all its rows.
    */
  def ranked(df: DataFrame, groups: Seq[String], score: String, key: String,
      k: Int): DataFrame = {
    val heap =
      if (df.schema(key).dataType == StringType) udaf(new TopKStrAgg(k))
      else udaf(new TopKAgg(k))
    val g = groups.map(col)
    df.groupBy(g: _*)
      .agg(heap(col(score).cast("double"), col(key)).as("top"))
      .select(g :+ posexplode(col("top")): _*)
      .select(g ++ Seq((col("pos") + 1).cast("int").as("rank"),
        col("col.key").as(key), col("col.score").as(score)): _*)
  }
}

/** Long-keyed bounded heap behind [[BoundedTopK.ranked]].
  * Ordering: score desc, then key asc (deterministic ties).
  */
final class TopKAgg(k: Int) extends BoundedTopK[Scored](k,
    Ordering.by((s: Scored) => (-s.score, s.key))) {
  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}

/** [[TopKAgg]] with string payloads (top tokens/bigrams per group). */
case class ScoredStr(score: Double, key: String)

object ScoredStr {
  /** Binary UTF-8 ordering — what Spark SQL's string comparison and the
    * DuckDB oracle's ORDER BY both use. JVM `String.compareTo` (UTF-16
    * code units) would diverge on supplementary-plane characters tied at
    * the k boundary.
    */
  val utf8Ordering: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    var c = 0
    while (c == 0 && i < n) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (c != 0) c else x.length - y.length
  }
}

/** String-keyed bounded heap behind [[BoundedTopK.ranked]]; same contract
  * as [[TopKAgg]] (score desc, key asc ties — UTF-8 binary order, matching
  * engine/oracle), for vocabulary-shaped payloads where the per-group
  * domain is unbounded at scale.
  */
final class TopKStrAgg(k: Int) extends BoundedTopK[ScoredStr](k,
    Ordering.by((s: ScoredStr) => (-s.score, s.key))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, ScoredStr.utf8Ordering))) {
  override def outputEncoder: Encoder[Seq[ScoredStr]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredStr]]()
}

/** Bounded "k smallest longs" — Long-keyed end to end, so ids at or above
  * the 2^53 double-lossless bound order correctly (the earlier route fed
  * [[TopKAgg]] a `-id` cast to double, which silently reorders huge ids),
  * and NULL-tolerant: a null input is skipped, matching the oracle's
  * COUNT/LIST DISTINCT semantics where NULL keys never surface as items.
  * Extends [[BoundedTopK]] so the amortized O(log k) buffer discipline
  * stays single-sourced (boxed elements — the cap-sized buffer makes the
  * boxing irrelevant next to keeping the four heap aggregators in step).
  */
final class LowKLong(k: Int) extends BoundedTopK[java.lang.Long](k,
    Ordering.by((x: java.lang.Long) => x.longValue)) {
  override def reduce(b: TopKBuf[java.lang.Long], v: java.lang.Long): TopKBuf[java.lang.Long] =
    if (v == null) b else super.reduce(b, v)
  override def outputEncoder: Encoder[Seq[java.lang.Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[java.lang.Long]]()
}

/** Config-driven aggregator registry — the moral successor of
  * `ValueAggregatorJob`'s descriptor strings ("LongValueSum:col", ...):
  * one `groupBy.agg` computes the whole descriptor list in a single pass.
  * Reference: `.../lib/aggregate/ValueAggregatorBaseDescriptor.java`
  * anchor:`generateValueAggregator`.
  */
object AggRegistry {
  private def decSum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Parse "Type:column" descriptors into aggregation columns. */
  def fromDescriptors(descriptors: Seq[String]): Seq[Column] = descriptors.map { d =>
    d.split(":") match {
      case Array("LongValueSum", c)    => sum(col(c)).as(s"sum_$c")
      case Array("DoubleValueSum", c)  => decSum(col(c)).as(s"sum_$c")
      case Array("LongValueMax", c)    => max(col(c)).as(s"max_$c")
      case Array("LongValueMin", c)    => min(col(c)).as(s"min_$c")
      case Array("StringValueMax", c)  => max(col(c)).as(s"max_$c")
      case Array("StringValueMin", c)  => min(col(c)).as(s"min_$c")
      case Array("UniqValueCount", c)  => countDistinct(col(c)).as(s"uniq_$c")
      case Array("ValueCount", c)      => count(col(c)).as(s"cnt_$c")
      case other => throw new IllegalArgumentException(
        s"unknown aggregator descriptor: ${other.mkString(":")}")
    }
  }
}
