package graft.core

import org.apache.spark.sql.SparkSession

/** Deployment posture in ONE switch: `graft.profile` = `gate` (default) or
  * `deployment`.
  *
  * The engine carries two exactness knobs whose correct value depends on
  * who is asking:
  *
  *  - `graft.sums.exact` — decimal-routed double sums. The oracle gate
  *    needs bit-reproducible hashes; a deployment wants plain double speed
  *    (industry-standard last-ulp nondeterminism).
  *  - `graft.sim.exact` — all-pairs exact similarity/dedup baselines vs
  *    banded-LSH candidate routes. The gate's all-pairs forms are the
  *    oracle-checkable ground truth; at deployment scale they are Θ(n²)
  *    and the banded Θ(Σ|bucket|²) routes are the only viable shape
  *    (measured crossover: SCALE.md rounds 6–7).
  *
  * Resolution order, per knob: an EXPLICIT `graft.sums.exact` /
  * `graft.sim.exact` setting always wins; otherwise the profile supplies
  * the default (`gate` → both true, `deployment` → both false). The
  * driver's correctness gate never sets the profile (Verify pins
  * `graft.sim.exact` explicitly so the banded matrix legs can flip it;
  * `graft.sums.exact` resolves through the gate default), so gate results
  * are independent of profile resolution, and a production session opts
  * into the scale posture with the single line
  * `spark.conf.set("graft.profile", "deployment")`.
  *
  * Band shapes (`graft.sim.bands.*`) are deliberately NOT profile-driven:
  * they are a corpus property (see [[graft.functions.SimilarityOps.bandShape]]),
  * tuned per deployment with [[graft.functions.BandTuner.suggest]].
  */
object Profile {
  val Gate = "gate"
  val Deployment = "deployment"

  def current(spark: SparkSession): String =
    spark.conf.get("graft.profile", Gate) match {
      case p @ (Gate | Deployment) => p
      case other => sys.error(
        s"graft.profile must be '$Gate' or '$Deployment', got '$other'")
    }

  /** Boolean knob honoring explicit-setting > profile-default precedence. */
  def exactKnob(spark: SparkSession, key: String): Boolean =
    boolKnob(spark, key, current(spark) == Gate)

  /** Knob `key` parsed by `parse`, or `default` when unset. A value that
    * does not parse fails naming the key and the `expected` form, not with
    * a bare `For input string` that names neither. */
  def knob[T](spark: SparkSession, key: String, default: => T, expected: String)(
      parse: String => Option[T]): T =
    spark.conf.getOption(key).fold(default)(v =>
      parse(v).getOrElse(sys.error(s"$key must be $expected, got '$v'")))

  def boolKnob(spark: SparkSession, key: String, default: => Boolean): Boolean =
    knob(spark, key, default, "true or false")(_.toBooleanOption)

  def intKnob(spark: SparkSession, key: String, default: Int,
      expected: String = "an int"): Int =
    knob(spark, key, default, expected)(_.toIntOption)
}
