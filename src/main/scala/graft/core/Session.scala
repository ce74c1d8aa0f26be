package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: `Bench`, `Verify`, the specs and every
  * dev tool build their session here, so plan shapes measured by a tool
  * are the plans the bench and the correctness gate run.
  *
  * Scale posture (100 TB design point): Spark's defaults for AQE (on,
  * with partition coalescing and skew splits) and for the broadcast
  * threshold apply; on a real cluster `shuffle.partitions` would be sized
  * to ~2-3× total cores with AQE coalescing down — locally we pin it to
  * the core count so tiny SF runs don't pay 200-partition scheduling
  * overhead. Callers set only their real differences on the returned
  * session (`Bench`: deployment sums; `Verify`: the similarity route).
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, or 32 — the default core count of every session. */
  def defaultCores: Int = coresFrom(sys.env.get)

  /** The core count an environment asks for ([[defaultCores]]). A value
    * that is not a positive int fails naming the variable, not with a bare
    * `For input string`. */
  private[graft] def coresFrom(env: String => Option[String]): Int =
    env("SPARK_GRAFT_CPUS").fold(32)(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive int, got '$v'")))

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts physical type has drifted across testdata generations
      // (NANOS through r7, MICROS from r8). nanosAsLong makes a NANOS-era
      // file readable; Tables.normalizeTs dispatches on the read dtype so
      // either generation loads identically.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
