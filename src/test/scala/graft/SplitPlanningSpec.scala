package graft

/** Input-split planning parity — the two SURVEY §2.1 rows whose reference
  * behavior lives in session knobs rather than a query:
  *  - `CombineFileInputFormat` (reference: pack many small files into one
  *    split): Spark's file scan packs files into partitions up to
  *    `maxPartitionBytes`, charging `openCostInBytes` per file — small
  *    files coalesce into far fewer tasks than files.
  *  - `NLineInputFormat` (reference: fixed N lines per split → task
  *    granularity is a dial, not an emergent property): the Spark analogue
  *    dials split size in bytes; shrinking `maxPartitionBytes` must grow
  *    the task count for the same input.
  */
class SplitPlanningSpec extends SparkSpec {

  test("CombineFileInputFormat parity: 32 small files coalesce into fewer tasks") {
    val path = "/tmp/graft_fmt/many_small"
    spark.range(32).selectExpr("id", "repeat('x', 100) AS pad")
      .repartition(32).write.mode("overwrite").parquet(path)
    val files = new java.io.File(path).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // AQE may coalesce the round-robin exchange below 32 partitions; what
    // matters is many files in, few tasks out
    assert(files >= 16, s"expected many part files, got $files")
    val tasks = spark.read.parquet(path).rdd.getNumPartitions
    assert(tasks < files / 2,
      s"$files small files should pack into few tasks, planned $tasks")
  }

  test("NLineInputFormat parity: shrinking split size grows task count") {
    val coarse = graft.core.Tables.lineitem(spark, sfDir).rdd.getNumPartitions
    val fine = withConf("spark.sql.files.maxPartitionBytes" -> "16384",
        "spark.sql.files.openCostInBytes" -> "0")(
      graft.core.Tables.lineitem(spark, sfDir).rdd.getNumPartitions)
    assert(fine > coarse,
      s"16 KiB splits should plan more tasks than default ($fine vs $coarse)")
  }
}
