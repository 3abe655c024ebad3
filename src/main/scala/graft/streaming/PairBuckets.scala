package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** An arriving row of a bucket-pair miner: its id and event time. */
private[streaming] trait PairArrival { def id: Long; def ts: Timestamp }

/** A bucket resident of a bucket-pair miner: its id and event time. */
private[streaming] trait PairResident { def id: Long; def tsMs: Long }

/** One bucket's state: its residents, newest first. */
private[streaming] trait PairBucket[E <: PairResident] { def entries: List[E] }

/** The bucket-pair state kernel behind the streaming pair miners
  * ([[CorpusStreams.nearDupPairStream]], [[CorpusStreams.srpPairStream]],
  * [[CorpusStreams.editDistPairStream]],
  * [[CorpusStreams.hammingPairStream]]). A miner maps each arrival to one
  * row per bucket key — the ONE shuffle — and this kernel keeps, per key,
  * the residents seen within the watermark horizon; each arrival is
  * verified against its bucket's residents and then (per the miner's
  * residency rule) takes residence itself. Every miner emits each pair
  * (a_id < b_id) as the pair's LATER row arrives.
  *
  * Horizon. A pair is found iff its two event times lie within
  * `horizonMinutes` of each other: the explicit |Δts| ≤ horizon check
  * makes the result independent of trigger timing. Residents evict once
  * the watermark (the same horizon behind the newest event time) passes
  * their ts + horizon, and event-time timeouts purge idle buckets, so
  * state is O(rows per horizon × keys per row), not O(stream). Late rows
  * beyond the watermark are dropped by the runtime, the standard
  * bounded-state trade. Arrivals sharing a bucket within one micro-batch
  * are processed in (ts, id) order. Ids must be unique within the horizon:
  * a row never pairs with a resident of its own id.
  *
  * Exactly-once emission without a cross-bucket distinct. A pair may meet
  * in many buckets; each miner's verify recomputes, from the two rows it
  * holds, which bucket OWNS the pair (for the banded miners the FIRST
  * colliding band) and emits only there — deterministic, no second
  * stateful operator, no post-hoc dedup.
  *
  * Hot-bucket cap. `maxBucketResidents` bounds a DEGENERATE bucket (a
  * constant payload hashes every arrival to the same keys; without a cap
  * that bucket's state grows to the whole horizon while each arrival's
  * verify scans every resident). When an arrival pushes a bucket past the
  * cap, the OLDEST resident instance — smallest (ts, id) — is evicted and
  * the miner's overflow MARKER row `(a_id = evicted id, b_id = -1,
  * score = -1, ts = arrival ts)` is emitted, impossible as a real pair, so
  * capped buckets are observable, not silent. Eviction removes that one
  * instance by reference: under at-least-once redelivery a duplicate id
  * evicts one entry per marker, so a bucket that took an arrival is never
  * emptied by its cap. An evicted resident can no longer pair IN THAT
  * BUCKET; a true pair is lost only if every bucket it meets in evicted
  * the earlier row first, so a cap ≳ expected bucket occupancy × a safety
  * factor leaves recall untouched.
  *
  * Warm start. `seeds` WARM-START the bucket residents from at-rest state
  * (a re-deploy that lost its checkpoint otherwise restarts cold and
  * misses every pair straddling the restart). Seeds come keyed by the
  * miner's own key derivation — the same kernels as live arrivals — and
  * take residence newest-first with their own event times, so horizon
  * aging treats them like arrived rows. Seed-internal pairs are NOT
  * re-emitted (they were emitted before the restart); a seed × arrival
  * pair emits exactly once through the usual ownership rule. A seed
  * bucket larger than `maxBucketResidents` is REFUSED when the first
  * micro-batch builds the state: the cap's markers are arrival-driven, and
  * a silent seed trim would fake recall. A seeded bucket that never sees
  * an arrival holds its seeds until the runtime first touches that group
  * — a residue bounded by the seed size.
  */
object PairBuckets {

  /** Rounds a pair score to 4 decimals, half up, as the batch miners do. */
  private[streaming] def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Runs one bucket-pair miner (see the object doc for the contract).
    *
    * @param miner      the public operator's name, for error messages
    * @param arrivals   live rows, one per (row, bucket key), with a `ts`
    *                   event-time column
    * @param seeds      warm-start rows in the same shape, or None
    * @param keyOf      a row's bucket key
    * @param residentOf the resident entry an arrival (or seed) stores
    * @param bucketOf   the state of a bucket holding these residents
    * @param markerOf   the overflow marker row for (evicted id, arrival ts)
    * @param verify     per bucket, then per arrival, then per resident: the
    *                   pair row iff the pair verifies AND this bucket owns
    *                   it. The outer two stages let a miner build per-call
    *                   and per-arrival state once.
    * @param resides    whether an arrival takes residence in this bucket
    */
  private[streaming] def mine[K, In <: PairArrival, E <: PairResident,
                              S <: PairBucket[E], Out](
      miner: String, arrivals: Dataset[In], seeds: Option[Dataset[In]],
      horizonMinutes: Long, maxBucketResidents: Int)(
      keyOf: In => K, residentOf: In => E, bucketOf: List[E] => S,
      markerOf: (Long, Timestamp) => Out,
      verify: K => In => E => Option[Out],
      resides: (K, In) => Boolean = (_: K, _: In) => true)(
      implicit kEnc: Encoder[K], sEnc: Encoder[S],
      outEnc: Encoder[Out]): Dataset[Out] = {
    val horizonMs = horizonMinutes * 60000L

    def update(key: K, it: Iterator[In],
               state: GroupState[S]): Iterator[Out] = {
      val wmMs = state.getCurrentWatermarkMs()
      var live = state.getOption.map(_.entries).getOrElse(Nil)
        .filter(_.tsMs + horizonMs >= wmMs)
      val out = List.newBuilder[Out]
      if (!state.hasTimedOut) {
        val pairsIn = verify(key)
        for (e <- it.toIndexedSeq.sortBy(a => (a.ts.getTime, a.id))) {
          val eMs = e.ts.getTime
          val pairWith = pairsIn(e)
          for (s <- live)
            if (s.id != e.id && math.abs(eMs - s.tsMs) <= horizonMs)
              pairWith(s).foreach(out += _)
          if (resides(key, e)) {
            live ::= residentOf(e)
            if (maxBucketResidents != Int.MaxValue &&
                live.length > maxBucketResidents) {
              val victim = live.minBy(r => (r.tsMs, r.id))
              live = live.filterNot(_ eq victim)
              out += markerOf(victim.id, e.ts)
            }
          }
        }
      }
      if (live.isEmpty) state.remove()
      else {
        state.update(bucketOf(live))
        state.setTimeoutTimestamp(live.map(_.tsMs).max + horizonMs + 1)
      }
      out.result().iterator
    }

    val grouped = arrivals.withWatermark("ts", s"$horizonMinutes minutes")
      .groupByKey(keyOf)
    seeds match {
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append,
                                       GroupStateTimeout.EventTimeTimeout)(
          update)
      case Some(seed) =>
        val init = seed.groupByKey(keyOf)
          .mapGroups { (k, rows) =>
            val entries = rows.toList
              .sortBy(a => (-a.ts.getTime, -a.id)).map(residentOf)
            require(entries.length <= maxBucketResidents,
              s"$miner: seed bucket $k holds ${entries.length} residents > " +
              s"maxBucketResidents $maxBucketResidents — trim the sliver " +
              "upstream; a silent seed eviction would fake recall")
            (k, bucketOf(entries))
          }(Encoders.tuple(kEnc, sEnc))
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(OutputMode.Append,
                                       GroupStateTimeout.EventTimeTimeout,
                                       init)(update)
    }
  }
}
