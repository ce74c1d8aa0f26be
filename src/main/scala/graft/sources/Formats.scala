package graft.sources

import graft.QueryPack
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources & sinks (SURVEY.md §2.1, §2.2).
  *
  * Parquet is the primary format (every other pack reads it); this pack
  * covers the rest of the reference's format surface as ROUND-TRIPS: derive
  * rows from a parquet table, write them through the format under test to a
  * scratch dir, read them back with the corresponding reader, and let the
  * DuckDB oracle (which only sees the original parquet) confirm nothing was
  * lost or mangled.
  *
  * Parity map:
  *  - TextInputFormat/TextOutputFormat (`key TAB value` lines) → read/write.text
  *  - KeyValueTextInputFormat (split at FIRST tab; value may contain tabs)
  *    → split(line, '\t', 2) — the limit-2 split is the semantic to test
  *  - CSV (StreamInputFormat-ish delimited) → read/write.csv with schema
  *  - SequenceFile → RDD bridge saveAsSequenceFile / sc.sequenceFile
  *  - MultipleOutputs / MultipleOutputFormat keyed demux → write.partitionBy
  *  - DBInputFormat/DBOutputFormat → read/write.jdbc (embedded Derby)
  *  - Hadoop Streaming (PipeMapper) → SQL TRANSFORM ... USING 'cmd'
  *  - CombineFileInputFormat (small-file packing) → automatic via
  *    maxPartitionBytes/openCostInBytes (FormatsSpec asserts split coalescing)
  *
  * Scale: every writer here produces splittable output (text/csv/parquet
  * part files, sequence files with sync markers), so a 1000-executor read
  * parallelizes; partitionBy demux gives partition pruning on the read side.
  */
object Formats extends QueryPack {

  private def scratch(name: String): String = s"/tmp/graft_fmt/$name"

  /** TextOutputFormat → TextInputFormat round-trip (TAB-joined fields). */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("text_docs")
    Tables.documents(spark, dir)
      .select(concat_ws("\t", $"doc_id", $"lang", $"n_chars").as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    spark.read.text(path)
      .select(split($"value", "\t").as("f"))
      .select(
        element_at($"f", 1).cast("bigint").as("doc_id"),
        element_at($"f", 2).as("lang"),
        element_at($"f", 3).cast("bigint").as("n_chars"))
      .orderBy($"doc_id")
  }

  /** KeyValueTextInputFormat: split at the FIRST tab only — the value keeps
    * its embedded tabs (limit-2 split), then parses further.
    */
  def kvTextFirstTab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("kv_events")
    Tables.events(spark, dir)
      .select(concat_ws("\t", $"event_id", $"event_type", $"user_id").as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    spark.read.text(path)
      .select(split($"value", "\t", 2).as("kv"))
      .select(
        element_at($"kv", 1).cast("bigint").as("event_id"),
        element_at($"kv", 2).as("v")) // still contains a tab
      .select($"event_id",
        split($"v", "\t").getItem(0).as("event_type"),
        split($"v", "\t").getItem(1).cast("bigint").as("user_id"))
      .orderBy($"event_id")
  }

  /** CSV round-trip with explicit schema (never infer at scale). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("csv_orders")
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
    spark.read.option("header", "true").schema(schema).csv(path)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        graft.QueryPack.decSum(spark)($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** SequenceFile round-trip via the RDD bridge (the compat path for native
    * KV files; parquet remains the primary store).
    */
  def sequenceFileRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("seq_docs")
    val rdd = Tables.documents(spark, dir)
      .select($"doc_id".cast("string"), $"text")
      .as[(String, String)].rdd
    // overwrite semantics for the raw-RDD writer
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(hconf).delete(p, true)
    rdd.saveAsSequenceFile(path)
    spark.sparkContext.sequenceFile[String, String](path)
      .toDF("doc_id", "text")
      .select($"doc_id".cast("bigint").as("doc_id"), md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** Compression-codec parity (reference: DefaultCodec/GzipCodec/BZip2Codec
    * on text containers): codec-compressed text out, transparent decompress
    * on read. Note gzip text is NOT splittable — one task per file — while
    * bzip2 IS block-splittable (the one compressed-text codec Hadoop could
    * split); either way the primary store is parquet (zstd, splittable row
    * groups) and these paths exist for interchange with legacy pipelines.
    */
  private def codecTextRoundtrip(codec: String)(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch(s"${codec}_nation")
    Tables.nation(spark, dir)
      .select(concat_ws("\t", $"n_nationkey", $"n_name", $"n_regionkey").as("value"))
      .write.mode(SaveMode.Overwrite).option("compression", codec).text(path)
    spark.read.text(path)
      .select(split($"value", "\t").as("f"))
      .select(
        element_at($"f", 1).cast("bigint").as("n_nationkey"),
        element_at($"f", 2).as("n_name"),
        element_at($"f", 3).cast("bigint").as("n_regionkey"))
      .orderBy($"n_nationkey")
  }

  def gzipTextRoundtrip(spark: SparkSession, dir: String): DataFrame =
    codecTextRoundtrip("gzip")(spark, dir)

  def bzip2TextRoundtrip(spark: SparkSession, dir: String): DataFrame =
    codecTextRoundtrip("bzip2")(spark, dir)

  /** JSON-lines round-trip with explicit schema — the interchange format
    * every ingestion pipeline meets; schema-on-read, never inferred.
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("json_part")
    Tables.part(spark, dir).write.mode(SaveMode.Overwrite).json(path)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
    spark.read.schema(schema).json(path)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), sum($"p_size".cast("long")).as("sum_size"))
      .orderBy($"p_brand")
  }

  /** ORC round-trip — the other columnar container (same pushdown/pruning
    * machinery as parquet). The oracle reads the original parquet: the
    * round-trip must be lossless.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("orc_supplier")
    Tables.supplier(spark, dir).write.mode(SaveMode.Overwrite).orc(path)
    spark.read.orc(path)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n"),
        graft.QueryPack.decSum(spark)($"s_acctbal").as("sum_acctbal"))
      .orderBy($"s_nationkey")
  }

  /** MultipleOutputs keyed demux → partitionBy; read back relies on
    * partition discovery (and gives partition pruning, MapFile-ish
    * point lookups by key).
    */
  def partitionedDemux(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("demux_docs")
    // project to the read-back's columns before the demux write (round 21,
    // guide §2.3/§6): the witness is the per-key side-output LAYOUT
    // (MultipleOutputs parity), not the payload — carrying `text` through
    // the write cost ~1 s of the query's 2 s survey wall for bytes the
    // aggregation never reads
    Tables.documents(spark, dir).select($"doc_id", $"n_chars", $"lang")
      .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(path)
    spark.read.parquet(path)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** DBOutputFormat/DBInputFormat parity: JDBC round-trip through embedded
    * Derby (batched INSERTs out, partitioned SELECT back).
    */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // in-memory Derby: a database per JVM and no files, so two JVMs that
    // run this query at once cannot collide on one database directory
    val url = "jdbc:derby:memory:graft_db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val agged = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        graft.QueryPack.decSum(spark)($"o_totalprice").as("sum_price"))
    agged.write.mode(SaveMode.Overwrite).jdbc(url, "cust_orders", props)
    val bounds = agged.agg(min($"o_custkey"), max($"o_custkey")).head()
    // partitioned read-back: DBInputFormat's split generation
    // (getSelectQuery LIMIT/OFFSET ranges) ≙ partitionColumn bounds split
    spark.read
      .option("partitionColumn", "o_custkey")
      .option("lowerBound", bounds.getLong(0))
      .option("upperBound", bounds.getLong(1) + 1)
      .option("numPartitions", 4)
      .jdbc(url, "cust_orders", props)
      .orderBy($"o_custkey")
  }

  /** Hadoop Streaming parity: SQL TRANSFORM pipes rows through a subprocess
    * with the TAB-delimited line protocol (PipeMapper/PipeReducer).
    */
  def scriptTransform(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).select($"event_type").createOrReplaceTempView("graft_st_events")
    spark.sql(
      """SELECT event_type, COUNT(*) AS n FROM (
        |  SELECT TRANSFORM(event_type) USING 'cat' AS (event_type STRING)
        |  FROM graft_st_events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** rdd.pipe form (typed wrapper over the same subprocess protocol). */
  def pipeWordTails(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val piped = Tables.documents(spark, dir)
      .select($"text").as[String].rdd
      .pipe(Seq("/usr/bin/awk", "{print $NF}")) // last token per line
    piped.toDF("last_word")
      .groupBy($"last_word").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"last_word")
  }

  /** StreamXmlRecordReader parity: records delimited by an end tag and
    * spanning multiple lines. The Spark-idiomatic splitter is the text
    * reader's custom record delimiter (`lineSep = "</rec>"`) — splittable
    * exactly like the reference's tag scan, no whole-file reads — then
    * field extraction by regex. Reference:
    * `src/contrib/streaming/.../StreamXmlRecordReader.java`
    * anchor:`readUntilMatchBegin`.
    */
  def xmlByTag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("xml_docs")
    Tables.documents(spark, dir)
      .select(concat(
        lit("<rec>\n  <id>"), $"doc_id",
        lit("</id>\n  <lang>"), $"lang",
        lit("</lang>\n  <chars>"), $"n_chars",
        lit("</chars>\n</rec>")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    spark.read.option("lineSep", "</rec>").text(path)
      .filter($"value".contains("<rec>"))
      .select(
        regexp_extract($"value", "<id>(\\d+)</id>", 1).cast("bigint").as("doc_id"),
        regexp_extract($"value", "<lang>([^<]*)</lang>", 1).as("lang"),
        regexp_extract($"value", "<chars>(\\d+)</chars>", 1).cast("bigint").as("n_chars"))
      .orderBy($"doc_id")
  }

  /** SkipBadRecords parity: poison records don't kill the job and are
    * accounted for. The reference binary-searches around crashing records
    * (`SkipBadRecords.setMapperMaxSkipRecords`); the declarative successor
    * is PERMISSIVE parsing with a corrupt-record column — bad rows land in
    * `_corrupt_record` instead of failing the task, good rows parse.
    * Every 97th order is written with garbage in a numeric field.
    */
  def permissiveParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("csv_bad")
    Tables.orders(spark, dir)
      .select(when($"o_orderkey" % 97 === 0,
          concat($"o_orderkey".cast("string"), lit(",NOT_A_NUMBER,XX,oops")))
        .otherwise(concat_ws(",", $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice"))
        .as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      // the null-checks also keep o_custkey/o_totalprice in the required
      // column set: CSV column pruning otherwise skips converting them and
      // the conversion failure (→ _corrupt_record) never fires
      .select(when($"_corrupt_record".isNotNull ||
          $"o_custkey".isNull || $"o_totalprice".isNull, lit("_corrupt"))
        .otherwise($"o_orderstatus").as("status"))
      .groupBy($"status").agg(count(lit(1)).as("n"))
      .orderBy($"status")
  }

  /** MapFileOutputFormat / CompositeInputFormat parity as an oracle query:
    * write both sides bucketed+sorted on the join key, then join the saved
    * tables — Spark plans a sort-merge join with NO shuffle on either side
    * (asserted in PlanSpec; here the driver verifies the VALUES). This is
    * the reference's map-side merge join: identical partitioning + sort
    * order in storage buys a shuffle-free 100 TB join.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    Seq("fq_orders", "fq_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // DROP on an in-memory catalog can leave the location behind from a
      // prior session — clear it or saveAsTable refuses the name
      val p = new org.apache.hadoop.fs.Path(s"$warehouse/$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // project to the joined/aggregated columns BEFORE the bucketed write
    // (round 21, guide §2.3 "project before the exchange" applied to the
    // write): the witness is the bucketed+sorted LAYOUT buying a
    // shuffle-free join, not full-width tables — writing lineitem's 16
    // columns where the join reads 2 cost 3.1 s of the query's 4.2 s
    // survey wall (8-way bucket sort+write per task of ~8× the bytes)
    Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus").write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("fq_orders")
    Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("fq_lineitem")
    spark.table("fq_orders")
      .join(spark.table("fq_lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), sum($"l_quantity").as("sum_qty"))
      .orderBy($"o_orderstatus")
  }

  /** BloomMapFile parity (reference:
    * src/core/org/apache/hadoop/io/BloomMapFile.java — a bloom filter in
    * front of the MapFile answers "definitely absent" without touching the
    * store). Both halves of that design:
    *  - storage: the orders parquet is written with a column bloom filter
    *    (`parquet.bloom.filter.enabled#o_custkey`) so the parquet reader
    *    can skip row groups on point lookups where min/max stats can't
    *    prune (unsorted key); BloomSpec asserts the footer carries it;
    *  - in-memory: `stat.bloomFilter` builds the sketch distributed
    *    (bitset-OR tree aggregation — map-combinable, one small driver
    *    object at the end, like a broadcast-join build side) and probes it
    *    per key through the native `bloom_probe` kernel
    *    ([[graft.expr.BloomProbe]] — the decontamination path's
    *    whole-stage-codegen probe, round 15 unifying the engine's last
    *    avoidable ScalaUDF onto it; PlanSpec pins the plan UDF-free).
    *
    * Emitted rows are customers THAT HAVE orders: the bloom
    * no-false-negative contract forces might_contain=true for every one —
    * which is exactly what makes the result oracle-checkable. The
    * false-positive rate on absent keys is probabilistic, so BloomSpec
    * bounds it instead of the hash gate.
    */
  def bloomMembership(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("bloom_orders")
    Tables.orders(spark, dir).write.mode(SaveMode.Overwrite)
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
      // parquet-mr drops the bloom when a chunk stays fully
      // dictionary-encoded (the dictionary is already an exact membership
      // index). True at toy SF only — at 100 TB the key overflows the
      // dictionary and the bloom engages; force the at-scale layout here.
      .option("parquet.enable.dictionary#o_custkey", "false")
      .parquet(path)
    val orders = spark.read.parquet(path)
    val bf = orders.stat.bloomFilter("o_custkey", 100000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    Tables.customer(spark, dir)
      .join(orders.select($"o_custkey".as("c_custkey")).distinct(),
        Seq("c_custkey"), "left_semi")
      .select($"c_custkey",
        call_function("bloom_probe", lit(bytes), $"c_custkey").as("might_contain"))
      .orderBy($"c_custkey")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fmt_bloom_membership" -> (bloomMembership _),
    "fmt_bucketed_join" -> (bucketedJoin _),
    "fmt_xml_by_tag" -> (xmlByTag _),
    "fmt_json_roundtrip" -> (jsonRoundtrip _),
    "fmt_gzip_text" -> (gzipTextRoundtrip _),
    "fmt_bzip2_text" -> (bzip2TextRoundtrip _),
    "fmt_orc_roundtrip" -> (orcRoundtrip _),
    "fmt_permissive_parse" -> (permissiveParse _),
    "fmt_text_roundtrip" -> (textRoundtrip _),
    "fmt_kv_first_tab" -> (kvTextFirstTab _),
    "fmt_csv_roundtrip" -> (csvRoundtrip _),
    "fmt_sequencefile" -> (sequenceFileRoundtrip _),
    "fmt_partitioned_demux" -> (partitionedDemux _),
    "fmt_jdbc_roundtrip" -> (jdbcRoundtrip _),
    "fmt_script_transform" -> (scriptTransform _),
    "fmt_pipe_word_tails" -> (pipeWordTails _))

  override def oracle: Map[String, String] = Map(
    "fmt_bloom_membership" ->
      """SELECT c_custkey, true AS might_contain FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "fmt_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  SUM(l_quantity) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "fmt_xml_by_tag" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "fmt_json_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS sum_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "fmt_gzip_text" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "fmt_bzip2_text" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "fmt_orc_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "fmt_permissive_parse" ->
      """SELECT CASE WHEN o_orderkey % 97 = 0 THEN '_corrupt' ELSE o_orderstatus END AS status,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "fmt_text_roundtrip" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "fmt_kv_first_tab" ->
      "SELECT event_id, event_type, user_id FROM events ORDER BY event_id",
    "fmt_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "fmt_sequencefile" ->
      "SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id",
    "fmt_partitioned_demux" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "fmt_jdbc_roundtrip" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "fmt_script_transform" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    "fmt_pipe_word_tails" ->
      """SELECT last_word, COUNT(*) AS n FROM (
        |  SELECT toks[len(toks)] AS last_word FROM (
        |    SELECT string_split_regex(text, '\s+') AS toks FROM documents))
        |GROUP BY last_word ORDER BY n DESC, last_word""".stripMargin)
}
