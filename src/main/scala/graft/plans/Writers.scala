package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Writer-side partitioning for hive-layout (`partitionBy`) writes.
  *
  * A keyed `repartition(cols…)` with no explicit partition count is an
  * AQE coalescing candidate: when the exchange is small by BYTES, AQE
  * collapses it toward one post-shuffle partition — correct for shuffle
  * cost, wrong for a partitioned WRITE, where the task then creates
  * every `key=` dir's file sequentially. File count is fixed by the
  * layout either way (one file per directory — each key hashes to
  * exactly one task), so coalescing buys nothing and serializes N
  * parquet-writer setups/commits behind one core (measured on the
  * 128-dir LSH postings shape: 2.1 s coalesced vs 0.9 s parallel at
  * sf0.1, identical files out).
  *
  * The fix pins the exchange at the session's configured shuffle
  * parallelism — a cluster-scale setting (`spark.sql.shuffle.partitions`),
  * never a local constant: partition dirs spread one-per-task up to
  * that parallelism at any scale, and an explicit user count is exactly
  * the signal AQE's coalescing rule already respects. */
object Writers {

  /** `df.repartition(cols…)` with the exchange pinned at the session's
    * shuffle parallelism (AQE-coalesce-exempt). Layout-identical to the
    * unpinned form: same dirs, same one-file-per-dir. */
  def byKeys(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      keys: _*)
}
