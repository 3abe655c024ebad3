package graft.operators

import org.apache.spark.sql.DataFrame

/** Join-strategy and parallelism hints that keep one code path correct from
  * laptop scale to cluster scale. Shared by the library operators
  * ([[GraftDedup]]) and the query catalog (`graft.queries.QueryModule`).
  */
object ScaleHints {

  /** Size-gate for attach joins (candidate stream ⋈ per-row payload table).
    *
    * Broadcast the payload side only while Catalyst's size estimate stays
    * under `spark.graft.broadcastGateBytes` (default 256 MB — a per-executor
    * memory bound, not Spark's conservative 10 MB auto threshold); past the
    * gate, hint SHUFFLE_HASH so the join hash-builds on this side without
    * sorting the (much larger) probe stream, and no full-table broadcast
    * ever ships. At 100 TB a signature/embedding table is terabytes — the
    * gate makes the demo plan and the cluster plan the same code path
    * instead of an unconditional `broadcast()` that dies at scale.
    */
  def gated(side: DataFrame): DataFrame =
    pick(side, side.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** Like [[gated]], but decided by an exact byte size the caller measured
    * (e.g. count × row width of the side). Catalyst's estimate
    * depends on how the side was built, and a flipping join
    * strategy changes the partitioning seen downstream — fatal under a
    * position-seeded sampler that promises same-partitioning determinism.
    */
  def gatedExact(side: DataFrame, exactBytes: Long): DataFrame =
    pick(side, BigInt(exactBytes))

  private def pick(side: DataFrame, est: BigInt): DataFrame = {
    val gate = side.sparkSession.conf
      .getOption("spark.graft.broadcastGateBytes").map(_.toLong)
      .getOrElse(256L << 20)
    if (est <= gate) org.apache.spark.sql.functions.broadcast(side)
    else side.hint("SHUFFLE_HASH")
  }

  /** Ensure at least the session's default parallelism ahead of a heavy
    * per-row map stage (signature/gram computation). A benchmark-sized
    * corpus packs into one or two 128 MB read splits, which would run the
    * expensive compute on 1-2 cores; at real scale the input already has
    * more splits than cores and this is a no-op — no shuffle is added.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** [[spread]] for use INSIDE operators, ahead of a stage whose work per
    * input byte is large (gram explosion, signature hashing, banded-DP
    * verification, pair generation against a broadcast side): hash-
    * repartition `df` by `keys` to the session's shuffle width when the
    * OPTIMIZER'S SIZE ESTIMATE says the input is too small for its scan
    * to reach that width on its own (fewer bytes than width × one read
    * split). The r16 probes measured exactly this shape: a corpus that
    * packs into one 128 MB split runs its whole explode→hash→pair stage
    * on ONE core of 32, and AQE cannot help — it sizes partitions by
    * shuffle BYTES, which undercounts compute-dense stages by orders of
    * magnitude (guide §2.5, input skew). The estimate gate makes the
    * shuffle self-canceling at scale: it fires only when the input is
    * small enough that moving it costs less than one split's scan. The
    * explicit partition count keeps AQE from coalescing the exchange
    * back to the byte-derived handful. Unlike [[spread]] this never
    * touches `df.rdd` (which would materialize AQE query stages of a
    * mid-plan frame eagerly).
    */
  def fanOut(df: DataFrame,
             keys: org.apache.spark.sql.Column*): DataFrame = {
    // streaming frames: micro-batch sizing is the stream engine's concern,
    // and even touching queryExecution.optimizedPlan on one throws
    // (assertSupported runs the batch checker) — the stateless kernel
    // twins pass streaming frames straight through the batch operators
    if (df.isStreaming) return df
    val conf = df.sparkSession.sessionState.conf
    val width = conf.numShufflePartitions
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(conf.filesMaxPartitionBytes) * width) {
      // no key → deterministic round-robin (sort-before-repartition is
      // on by default, and the gate means the sorted input is tiny)
      if (keys.isEmpty) df.repartition(width)
      else df.repartition(width, keys: _*)
    } else df
  }

  /** Keyed repartition ahead of a `partitionBy(key)` store write. The
    * FILE layout is identical either way (each key value hashes wholly
    * into one task; the partitioned writer splits one file per value) —
    * this only decides how many tasks write the files. Small store
    * (the fanOut estimate gate): explicit session width, because AQE
    * otherwise coalesces the tiny exchange to ONE task that writes
    * every partition file sequentially. Large store: plain keyed
    * repartition, leaving AQE's byte-sized coalescing in charge of
    * write-task granularity.
    */
  def writeWidth(df: DataFrame,
                 key: org.apache.spark.sql.Column): DataFrame = {
    if (df.isStreaming) return df // see fanOut — store writes are batch-only
    val conf = df.sparkSession.sessionState.conf
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
          BigInt(conf.filesMaxPartitionBytes) * conf.numShufflePartitions)
      df.repartition(conf.numShufflePartitions, key)
    else df.repartition(key)
  }
}
