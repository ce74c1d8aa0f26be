package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Scan fan-out for CPU-heavy per-row kernels over splits-starved inputs
  * (round 21 — optimization guide §2.5 "input skew": one huge unsplittable
  * file → "repartition immediately after the read").
  *
  * A parquet scan parallelizes across files and row groups, and
  * whole-stage codegen fuses every per-row kernel above the scan into the
  * SAME tasks. When the input cannot fill the session's parallelism — a
  * single small file with one row group (the driver's fixtures at every
  * SF, and any real-world small corpus slice) — the scan plans as ONE
  * usable task, and a CPU-heavy fused kernel serializes on one core while
  * the rest of the machine idles.
  *
  * [[maybeFanout]] inserts ONE hash repartition to the session's default
  * parallelism, but only when the frame's backing files cannot fill it:
  * estimated usable scan tasks = ceil(total input bytes /
  * `spark.sql.files.maxPartitionBytes`) — a byte-proportional proxy for
  * the row-group-bounded parallelism a parquet scan actually achieves. At
  * production scale the estimate exceeds any realistic parallelism and
  * the frame passes through UNTOUCHED — the trigger derives from input
  * size, never from a local[32] constant. The repartition hashes
  * caller-named key columns (stable row identity → deterministic under
  * retries, no round-robin sort-before-repartition).
  *
  * WHERE IT APPLIES — measured, not assumed (SCALE.md round 21): only
  * per-row kernels whose fused single-task cost dwarfs one added
  * exchange+stage (~0.1 s wall at local[32]): interpreted higher-order
  * array functions (repetition stats ~1.9 s single-task, per-shingle md5
  * fingerprints ~1.1 s, per-token md5 in count-min/simhash ~0.8–1.5 s,
  * stopword-profile lang-id ~0.9 s, per-row md5 sampling filters). The
  * cheap-kernel paths (wordcount tokenize, minhash_sig codegen kernel,
  * q1-style column arithmetic) measured strictly SLOWER with a fan-out —
  * tens of ms of kernel against ~0.1 s of stage — and deliberately do NOT
  * use it. Callers must also be partition-INSENSITIVE (per-row outputs or
  * order-insensitive aggregates; never sketches whose merge order shifts
  * results, e.g. approx_percentile).
  *
  * It also applies to an EXCHANGE whose work is not proportional to its
  * bytes: the banded pairing ([[graft.functions.Banding.selfJoin]]),
  * clustered on (tbl, bucket), behind every embedding, MinHash and SimHash
  * candidate route. Its exchange is small (under 1 MB for 2,000 vectors),
  * so AQE merges it under its 1 MB minimum partition size into ONE task,
  * yet that task walks Σ bucket² pairs (about 4.8 M at the 16×2 shape on
  * 1,500 vectors). Repartitioned here on the bucket keys, the repartition
  * IS the exchange the pairing ([[graft.plans.BandPairs]]) requires, so
  * no stage is added, and AQE cannot merge a caller-sized partitioning:
  * the pairing runs one task per core (SCALE.md "The banded self-join
  * runs on every core"). The pairing keeps each pair once at its
  * canonical discovery instead of running a pair distinct per task: four
  * partial-distinct hash maps, one 64 MB Tungsten page each, raised the
  * benchmark's peak heap 225 → 609 MB. The policy is the pairing's, not a
  * family's: every route that bands rows gets the same sized exchange,
  * whether its buckets are Σ bucket²-heavy (the recall-heavy embedding
  * shapes) or light (MinHash and SimHash at the gate's shapes, where it
  * adds no job or stage and their sf0.1 walls stay within this box's
  * spread; SCALE.md "One banding layer").
  *
  * Conservative failure posture: inputs whose size cannot be read cheaply
  * from a local filesystem (object stores, in-memory test frames) pass
  * through untouched — mis-skipping costs parallelism on exotic layouts,
  * mis-firing would insert a corpus-wide exchange at scale.
  *
  * No on/off dial: the input-size trigger is the whole decision. The
  * pre-r21 plans it replaced are measured against it in SCALE.md round 21.
  */
object Fanout {
  /** Total bytes of the local files backing `df` (clamped at `cap`), or
    * None when any part of the listing is not cheaply sizeable (non-file
    * scheme, missing, in-memory frame). `cap` stops the sweep once the
    * total can no longer trigger a fan-out — the skip decision must not
    * itself cost O(#files) stats on exactly the many-file layouts where
    * fan-out is a no-op. */
  private def inputBytes(df: DataFrame, cap: Long): Option[Long] =
    scala.util.Try {
      val files = df.inputFiles
      if (files.isEmpty) None
      else {
        var sum = 0L
        var i = 0
        while (i < files.length && sum < cap) {
          sum += java.nio.file.Files.size(
            java.nio.file.Paths.get(new java.net.URI(files(i))))
          i += 1
        }
        Some(sum)
      }
    }.toOption.flatten

  /** `df` repartitioned by `keys` to the session's default parallelism iff
    * its backing files cannot fill that parallelism on their own; `df`
    * unchanged otherwise. Row-level semantics are identity either way.
    */
  def maybeFanout(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    inputBytes(df, cap = parallelism * maxPartitionBytes) match {
      case Some(bytes)
          if (bytes + maxPartitionBytes - 1) / maxPartitionBytes < parallelism =>
        df.repartition(parallelism, keys: _*)
      case _ => df
    }
  }
}
