package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver-generated test tables (TESTDATA.md / FIXTURES.md).
  *
  * The reference engine has no catalog at all — datasets are directories of
  * files and schemas live in job code (SURVEY.md §1, JobConf.setOutputKeyClass).
  * Here the "catalog" is simply parquet-on-path with embedded schemas; every
  * loader is a plain `spark.read.parquet` so Catalyst sees a declarative scan
  * it can prune/push down into (FileSourceScanExec handles split planning —
  * the FileInputFormat.getSplits role, SURVEY §2.1).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session inferred-schema cache (round 21, guide §1.2 "per-task
    * work"/§7.3 driver work): a bare `spark.read.parquet(path)` runs a
    * footer schema-inference JOB at every DataFrame construction — stage
    * profiles showed ~30–180 ms per table per query construction, inside
    * the bench's timed region (a 3-table join pays it three times per
    * pass). A real deployment reads through a catalog that already knows
    * the schema; this cache is that catalog stand-in: the FIRST load of a
    * path in a session infers exactly as before (so a fixture
    * regeneration between sessions is always picked up, and
    * read-conf-sensitive inference like `nanosAsLong` stays
    * session-correct), and later constructions pass the known schema so
    * no inference job runs. Results are byte-identical by construction —
    * the cached schema IS the inferred one.
    */
  private val schemaCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every query reads through here, so this is where a session gets
    // graft's functions and planner strategy (idempotent)
    graft.plans.GraftFunctions.install(spark)
    val path = s"$dir/$name.parquet"
    val perSession = schemaCache.synchronized {
      var m = schemaCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
        schemaCache.put(spark, m)
      }
      m
    }
    // infer OUTSIDE the map (ADVICE r21 #1): computeIfAbsent would run the
    // footer-inference Spark job while holding the bin lock — concurrent
    // loads hashing to the same bin would serialize behind a Spark job, and
    // a reentrant load on the same thread would throw. putIfAbsent races
    // benignly: both racers infer the same schema from the same footer.
    var schema = perSession.get(path)
    if (schema == null) {
      val inferred = spark.read.parquet(path).schema
      val prev = perSession.putIfAbsent(path, inferred)
      schema = if (prev == null) inferred else prev
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts physical type has drifted across driver testdata
    * regenerations: TIMESTAMP(NANOS) (read as ns-long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) through round 7, then
    * TIMESTAMP(MICROS) from round 8 on. Dispatch on the read dtype so BOTH
    * generations load:
    *  - LongType → the nanos shim `timestamp_micros(ts div 1000)` (integer
    *    `div`, not `/`: ns epoch > 2^53, double division loses precision;
    *    sub-microsecond parts are zero in the driver's data);
    *  - TimestampType → already what downstream wants;
    *  - TimestampNTZType → cast to session-local TimestampType. Sessions
    *    run UTC (Verify/Bench/Session builders), so NTZ→LTZ is the identity
    *    on the stored micros value and `window()`/`unix_micros`/watermark
    *    semantics are unchanged from the shim era.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // defensive: make a NANOS-era read work on ANY session, not just
    // graft-built ones (runtime-settable; harmless no-op on MICROS files)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.withColumn("ts", normalizeTs(raw.schema("ts").dataType))
  }

  /** The ts-normalization expression for a given read dtype — shared with
    * the streaming source ([[graft.streaming.EventStreams.fileSource]]) so
    * batch and stream can never disagree on the conversion.
    */
  def normalizeTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    dt match {
      case LongType          => expr("timestamp_micros(ts div 1000)")
      case TimestampType     => col("ts")
      case TimestampNTZType  =>
        // NTZ→LTZ cast reinterprets the stored micros in the session TZ; it
        // is value-preserving ONLY under UTC. All graft-built sessions pin
        // UTC, but a foreign caller session would silently shift every ts —
        // fail loudly instead.
        val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
        require(tz == "UTC" || tz == "Etc/UTC" || tz == "+00:00",
          s"events.ts is TIMESTAMP_NTZ and spark.sql.session.timeZone=$tz; " +
            "the NTZ->LTZ cast is only value-preserving under UTC. Set " +
            "spark.sql.session.timeZone=UTC (graft sessions do) before loading events.")
        col("ts").cast(TimestampType)
      case other => throw new IllegalStateException(
        s"events.ts: unexpected read type $other — testdata schema drifted " +
          "again; extend graft.core.Tables.normalizeTs for the new physical type")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` text matches the
    * DuckDB oracle text closely.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      // events goes through the typed loader so SQL-text users see the
      // normalized TimestampType ts regardless of the stored physical type
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
