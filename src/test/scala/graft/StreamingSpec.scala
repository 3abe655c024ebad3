package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Streaming ⇄ batch agreement for the event analytics (graft.streaming). */
class StreamingSpec extends GraftFunSuite with ManifestStoreFixture {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  // a stream ≡ batch check compares sets, where a pair emitted twice
  // would hide: the emitted (a_id, b_id) must be distinct
  private def assertEachPairOnce(rows: Array[org.apache.spark.sql.Row]): Unit = {
    val ids = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ids.distinct.length == ids.length,
      s"pairs emitted twice: ${ids.diff(ids.distinct).take(5)}")
  }

  /** A bucket-pair miner fed the SAME payload on every row (up to a
    * positive vector scale) — the degenerate hot bucket: every row shares
    * every bucket key and each pair verifies at score `same`. `run`
    * feeds micro-batches of (id, ts) rows with a horizon (minutes) and a
    * cap, and returns the output as (a_id, b_id, score) plus the state
    * store's bytes at the last progress. */
  private final case class ConstMiner(
      label: String, same: Double,
      run: (Seq[Seq[(Long, Timestamp)]], Long, Int) =>
        (Seq[(Long, Long, Double)], Long))

  private val constRuns = new java.util.concurrent.atomic.AtomicInteger()

  private def constMiner[T: scala.reflect.runtime.universe.TypeTag](
      label: String, same: Double, payload: Long => T)(
      mine: (org.apache.spark.sql.DataFrame, Long, Int) =>
        org.apache.spark.sql.Dataset[_]): ConstMiner =
    ConstMiner(label, same, (batches, horizon, cap) => {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Timestamp, T)]
      val name = s"const_${label}_${constRuns.incrementAndGet()}"
      val q = mine(input.toDF().toDF("id", "ts", "payload"), horizon, cap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        for (b <- batches) {
          input.addData(b.map { case (id, t) => (id, t, payload(id)) })
          q.processAllAvailable()
        }
        assert(q.exception.isEmpty, q.exception.toString)
        (spark.table(name).collect().toSeq.map(r =>
           (r.getLong(0), r.getLong(1),
            r.get(2).asInstanceOf[Number].doubleValue)),
         q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum)
      } finally q.stop()
    })

  /** The four bucket-pair miners (srp in both state tiers). */
  private lazy val constMiners: Seq[ConstMiner] = {
    import graft.streaming.CorpusStreams
    val tokens = (1 to 40).map(i => s"tok$i").toList
    val srp = (quantized: Boolean) =>
      constMiner(if (quantized) "srp_q8" else "srp", 1.0,
                 id => (1 to 8).map(_ * id.toFloat).toList) { (df, h, cap) =>
        CorpusStreams.srpPairStream(df, idCol = "id", vecCol = "payload",
          threshold = 0.9, horizonMinutes = h, quantizedState = quantized,
          maxBucketResidents = cap)
      }
    Seq(
      constMiner("neardup", 1.0, _ => tokens) { (df, h, cap) =>
        CorpusStreams.nearDupPairStream(df, idCol = "id", itemsCol = "payload",
          threshold = 0.8, horizonMinutes = h, maxBucketResidents = cap)
      },
      srp(false), srp(true),
      constMiner("hamming", 0.0, _ => 0x1234L) { (df, h, cap) =>
        CorpusStreams.hammingPairStream(df, maxHamming = 2, bands = 4,
          idCol = "id", hashCol = "payload", horizonMinutes = h,
          maxBucketResidents = cap)
      },
      // long enough (19 ≥ q·(d+1) = 9) to reside under its 7 distinct
      // prefix grams, so the gram path and its ownership rule are the
      // ones exercised
      constMiner("editdist", 0.0, _ => "the quick brown fox") { (df, h, cap) =>
        CorpusStreams.editDistPairStream(df, maxDist = 2, q = 3,
          idCol = "id", textCol = "payload", horizonMinutes = h,
          maxBucketResidents = cap)
      })
  }

  test("windowed hourly counts: streaming (complete mode) equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.hourlyCounts(df)
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try {
      val rows = Seq(
        (1L, ts(0), "view", 1.0), (1L, ts(10), "view", 2.0),
        (2L, ts(65), "click", 3.0), (1L, ts(70), "view", 4.0),
        (2L, ts(130), "view", 5.0))
      input.addData(rows.take(3))
      q.processAllAvailable()
      input.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("hourly_stream")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                             r.getDouble(3))).toSet
      val batch = EventStreams.hourlyCounts(
        rows.toDF("user_id", "ts", "event_type", "value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                             r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("sliding-window counts: streaming (complete mode) equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .select(col("window.start").as("b"), col("event_type"), col("n"), col("sv"))
    val q = agg(input.toDF().toDF("user_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("sliding_stream")
      .outputMode("complete").start()
    try {
      val rows = Seq((1L, ts(0), "view", 1.0), (2L, ts(40), "click", 2.0),
                     (1L, ts(75), "view", 3.0))
      input.addData(rows.take(2)); q.processAllAvailable()
      input.addData(rows.drop(2)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
      val streamed = spark.table("sliding_stream").collect().map(key).toSet
      val batch = agg(rows.toDF("user_id", "ts", "event_type", "value"))
        .collect().map(key).toSet
      assert(streamed == batch && batch.nonEmpty)
      // every event appears in exactly size/slide = 4 windows
      assert(batch.toSeq.map(_._3).sum == 3 * 4)
    } finally q.stop()
  }

  test("stateful sessionizer: sessions close on gap and survive micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      def us(t: Timestamp): Long = t.getTime * 1000L
      // user 1: events at 0,10 min (session @0), then 50 min (gap 40 > 30 →
      // session @50); user 2: single event.
      input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(10), 2.0),
                    Event(2L, ts(5), 7.0))
      q.processAllAvailable()
      input.addData(Event(1L, ts(50), 4.0))
      q.processAllAvailable()
      // advance watermark far enough to time out all open sessions
      input.addData(Event(99L, ts(600), 0.0))
      q.processAllAvailable()
      // regression (ADVICE r1): user 2 returns AFTER their session closed by
      // TIMEOUT — the new session must carry a fresh identity, not a
      // restarted per-user counter that would duplicate the first key
      input.addData(Event(2L, ts(620), 9.0))
      q.processAllAvailable()
      input.addData(Event(98L, ts(1200), 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions_stream")
        .filter(col("user_id").isin(1L, 2L))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == Set((1L, us(ts(0)), 2L, 3.0),
                        (1L, us(ts(50)), 1L, 4.0),
                        (2L, us(ts(5)), 1L, 7.0),
                        (2L, us(ts(620)), 1L, 9.0)),
             s"got $got")
    } finally q.stop()
  }

  test("batch sessionize query agrees with streaming sessionizer totals") {
    // session count per user from the oracle-checked batch query
    val batch = SparkEntry.queries("events_sessionize")(spark, sf0001)
    val nSessions = batch.count()
    assert(nSessions > 0)
    // every event lands in exactly one session
    val evCount = batch.agg(sum("n_events")).head().getLong(0)
    val spark2 = spark
    val raw = {
      spark2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark2.read.parquet(s"$sf0001/events.parquet").count()
    }
    assert(evCount == raw)
  }

  test("streaming asof attribution: state carries across micro-batches, ties and no-click cases") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{TypedEvent => TE}
    val input = MemoryStream[TE]
    val q = EventStreams.asofAttribution(input.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // batch 1: user 1 clicks (two at the same ts — higher id must win),
      // then purchases; user 2 purchases with no click ever
      input.addData(
        TE(1L, ts(0), "click", 10L), TE(1L, ts(0), "click", 11L),
        TE(1L, ts(5), "purchase", 20L), TE(2L, ts(6), "purchase", 30L),
        TE(1L, ts(7), "view", 40L))
      q.processAllAvailable()
      // batch 2: the stored click survives the batch boundary; a same-ts
      // lower-id click must NOT displace it; purchase at the click's exact
      // ts still attributes (>= semantics)
      input.addData(TE(1L, ts(0), "click", 9L), TE(1L, ts(0), "purchase", 21L))
      q.processAllAvailable()
      val got = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
        .toSet
      assert(got == Set((20L, 11L), (30L, -1L), (21L, 11L)), s"got $got")
    } finally q.stop()
  }

  test("streaming asof attribution equals the batch events_asof_join on real data") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{TypedEvent => TE}
    val events = graft.queries.EventQueries.eventsFor(spark, sf0001)
      .selectExpr("user_id", "ts", "event_type", "event_id")
      .as[TE].collect().toSeq
    val input = MemoryStream[TE]
    val q = EventStreams.asofAttribution(input.toDS())
      .writeStream.format("memory").queryName("asof_real")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      val streamed = spark.table("asof_real").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   if (r.isNullAt(3)) -1L else r.getLong(3),
                   if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
      val batch = SparkEntry.queries("events_asof_join")(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   if (r.isNullAt(3)) -1L else r.getLong(3),
                   if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
      assert(streamed == batch)
      assert(batch.size > 50)
    } finally q.stop()
  }

  test("stream-stream interval join: matches within window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Timestamp, Long)]
    val buysIn = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.conversionPairs(
        clicksIn.toDF().toDF("c_user", "c_ts", "click_id"),
        buysIn.toDF().toDF("p_user", "p_ts", "purchase_id"),
        windowMinutes = 60)
      .writeStream.format("memory").queryName("conv_stream")
      .outputMode("append").start()
    try {
      // click before its purchase lands in a LATER micro-batch: the click
      // must stay buffered in the join state until the purchase arrives
      clicksIn.addData((1L, ts(0), 100L), (2L, ts(10), 101L))
      q.processAllAvailable()
      buysIn.addData((1L, ts(30), 200L),  // within 60 min of click 100
                     (2L, ts(90), 201L),  // 80 min after click 101 → no pair
                     (3L, ts(40), 202L))  // no click at all
      q.processAllAvailable()
      // two clicks both within range of one purchase → two pairs
      clicksIn.addData((4L, ts(100), 102L), (4L, ts(110), 103L))
      buysIn.addData((4L, ts(120), 203L))
      q.processAllAvailable()
      val got = spark.table("conv_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 100L, 200L), (4L, 102L, 203L), (4L, 103L, 203L)),
             s"got $got")
    } finally q.stop()
  }

  test("stream-stream interval join equals its batch form on real data") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.queries.EventQueries.eventsFor(spark, sf0001)
      .selectExpr("user_id", "ts", "event_type", "event_id")
    val clicks = ev.filter(col("event_type") === "click")
      .selectExpr("user_id AS c_user", "ts AS c_ts", "event_id AS click_id")
    val buys = ev.filter(col("event_type") === "purchase")
      .selectExpr("user_id AS p_user", "ts AS p_ts", "event_id AS purchase_id")
    // events at sf0.001 are sparse per user — a day-long window yields a
    // meaningful pair count (94) while still exercising the two-sided bound
    val batch = EventStreams.conversionPairs(clicks, buys,
        windowMinutes = 1440, watermark = "25 hours").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val clicksIn = MemoryStream[(Long, Timestamp, Long)]
    val buysIn = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.conversionPairs(
        clicksIn.toDF().toDF("c_user", "c_ts", "click_id"),
        buysIn.toDF().toDF("p_user", "p_ts", "purchase_id"),
        windowMinutes = 1440, watermark = "25 hours")
      .writeStream.format("memory").queryName("conv_real")
      .outputMode("append").start()
    try {
      clicksIn.addData(clicks.collect().map(r =>
        (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq)
      buysIn.addData(buys.collect().map(r =>
        (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("conv_real").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.size > 50, s"only ${batch.size} conversion pairs")
    } finally q.stop()
  }

  test("file-source streaming over the real events table equals batch (availableNow)") {
    // stream the parquet fixture through the windowed aggregation; the file
    // stream source requires a directory, so stage the fixture into one
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Paths.get("/tmp/graft_stream_events")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sf0001/events.parquet").schema
    val stream = graft.queries.GraftQuery.normalizeTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("file_hourly").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventStreams.hourlyCounts(
        graft.queries.GraftQuery.normalizeTs(
          spark.read.parquet(s"$sf0001/events.parquet")))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.size > 100)
    } finally q.stop()
  }

  test("dedupStream: first arrival passes, cross-batch duplicates drop, " +
       "null text dedups like a value") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusStreams.dedupStream(df, dedupWindow = "10 hours")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, ts(0), "alpha"), (2L, ts(1), "beta"),
        (3L, ts(2), "alpha"),                          // in-batch dup
        (4L, ts(3), null.asInstanceOf[String])))
      q.processAllAvailable()
      input.addData(Seq(
        (5L, ts(10), "beta"),                          // cross-batch dup
        (6L, ts(11), "gamma"),                         // new content
        (7L, ts(12), null.asInstanceOf[String])))      // dup of null text
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L, 6L), kept)
    } finally q.stop()
  }

  test("mediaEmbedStream: REAL decode+embed over an arriving payload " +
       "stream equals the batch kernels row-for-row, across micro-batch " +
       "boundaries, with zero streaming state") {
    import graft.operators.GraftMedia
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val payloads = Seq("alpha doc", "a longer second document body",
                       "third", "", "fourth payload with more bytes in it")
      .zipWithIndex.map { case (t, i) =>
        (i.toLong, GraftMedia.encodeBmp(
          GraftMedia.payloadRaster(t.getBytes("UTF-8"))))
      }
    val input = MemoryStream[(Long, Array[Byte])]
    val q = CorpusStreams.mediaEmbedStream(
        input.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("media_embed_stream")
      .outputMode("append").start()
    try {
      input.addData(payloads.take(2))
      q.processAllAvailable()
      input.addData(payloads.drop(2))
      q.processAllAvailable()
      val got = spark.table("media_embed_stream")
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
           r.getLong(5), r.getLong(6), r.getSeq[Double](7).toList)))
        .toMap
      assert(got.size == payloads.size)
      payloads.foreach { case (id, bytes) =>
        val r = GraftMedia.decodeGray(bytes)
        val st = GraftMedia.stats(r)
        assert(got(id) == ((st.width.toLong, st.height.toLong, st.sumPix,
          st.nPix.toLong, st.minPix.toLong, st.maxPix.toLong,
          GraftMedia.histogramEmbed(r).toList)),
          s"row $id must equal the batch kernels")
      }
      // stateless claim: no state operators in the progress record
      val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(so.map(_.numRowsTotal).sum == 0,
        "mediaEmbedStream must carry zero streaming state")
    } finally q.stop()
  }

  test("bpeSegment on a stream: batch-trained merges apply to arriving " +
       "docs as one stateless projection, scores equal the batch " +
       "segmentation row-for-row") {
    import graft.operators.GraftBpe
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val train = Seq("low low low", "lower lower", "newest").toDF("text")
    val merges = GraftBpe.bpeTrain(train, merges = 4)
    val arriving = Seq((1L, "low lower"), (2L, "lowest newest"),
                       (3L, ""), (4L, "slow low"))
    val input = MemoryStream[(Long, String)]
    val q = GraftBpe.bpeSegment(
        input.toDF().toDF("doc_id", "text"), merges)
      .select("doc_id", "bpe_tokens")
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    try {
      input.addData(arriving.take(2)); q.processAllAvailable()
      input.addData(arriving.drop(2)); q.processAllAvailable()
      val got = spark.table("bpe_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val batch = GraftBpe.bpeSegment(
          arriving.toDF("doc_id", "text"), merges)
        .select("doc_id", "bpe_tokens").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      assert(got == batch, s"\nstream $got\nbatch  $batch")
      assert(got(1L) == List("low", "lower"), got(1L))
      val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(so.map(_.numRowsTotal).sum == 0,
        "bpeSegment must carry zero streaming state")
    } finally q.stop()
  }

  test("native session_window: streaming (append, watermark-closed) " +
       "equals batch for finalized sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    def sessionize(d: org.apache.spark.sql.DataFrame) = d
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              col("n"), col("sv"))
    val q = sessionize(df.withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, ts(0), 1.0), (1L, ts(10), 2.0),   // one session (gap 10 < 30)
        (2L, ts(5), 7.0),
        (1L, ts(50), 4.0),                      // gap 40 → new session
        (1L, ts(80), 8.0))                      // merges into the ts(50) one
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.drop(3)); q.processAllAvailable()
      // far-future event advances the watermark and closes everything above
      input.addData((99L, ts(5000), 0.0)); q.processAllAvailable()
      val streamed = spark.table("native_sessions")
        .filter(col("user_id") =!= 99L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getDouble(3))).toSet
      val batch = sessionize(rows.toDF("user_id", "ts", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getDouble(3))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(batch.size == 3)
    } finally q.stop()
  }

  test("mixtureGate: stream-static cut attach keeps exactly the batch " +
       "operator's rows") {
    import graft.streaming.CorpusStreams
    import graft.operators.CorpusCuration
    implicit val sqlCtx = spark.sqlContext
    // train cuts in batch on the real corpus
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").select(
      col("doc_id"), col("source"),
      size(graft.operators.GraftText.whitespaceTokens(col("text")))
        .cast("long").as("n_tok"))
    val batchKept = CorpusCuration.temperatureMixture(docs, budgetFrac = 0.5)
    val cuts = batchKept.select("source", "cut").distinct()
    // stream the same docs through the gate in two micro-batches
    val rows = docs.select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "source")
    val q = CorpusStreams.mixtureGate(df, cuts)
      .writeStream.format("memory").queryName("mixture_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(200)); q.processAllAvailable()
      input.addData(rows.drop(200)); q.processAllAvailable()
      val streamed = spark.table("mixture_stream")
        .select("doc_id").as[Long].collect().toSet
      val batch = batchKept.select("doc_id").as[Long].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && batch.size < rows.size) // gate really filters
    } finally q.stop()
  }

  test("transitionStream: per-user pair counts equal the batch matrix " +
       "on the real events table") {
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.TypeStep
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("events_transitions")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val rows = graft.queries.EventQueries.eventsFor(spark, sf0001)
      .select("user_id", "ts", "event_type", "event_id")
      .collect()
      .map(r => TypeStep(r.getLong(0), r.getTimestamp(1), r.getString(2),
                         r.getLong(3)))
      .sortBy(e => (math.floorDiv(e.ts.getTime, 1000L) * 1000000000L +
                    e.ts.getNanos, e.event_id)).toSeq
    val input = MemoryStream[TypeStep]
    val q = EventStreams.transitionStream(input.toDS())
      .writeStream.format("memory").queryName("transitions_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(rows.size / 2)); q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2)); q.processAllAvailable()
      val streamed = spark.table("transitions_stream")
        .groupBy("prev_type", "next_type").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch,
        s"missing=${batch.keySet.diff(streamed.keySet)} " +
        s"diffs=${batch.collect { case (k, v) if streamed.get(k) != Some(v) => k }.take(3)}")
    } finally q.stop()
  }

  test("anomalyFlags: streaming daily flags equal the batch z-test on " +
       "the real events table") {
    implicit val sqlCtx = spark.sqlContext
    // batch truth and the static moments it uses
    val batch = SparkEntry.queries("events_anomaly")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
                           r.getLong(2), r.getBoolean(3))).toSet
    val daily = graft.queries.EventQueries.eventsFor(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val moments = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cnt").as("sx"),
           sum(col("cnt") * col("cnt")).as("sxx"))
    // stream the real events through in two batches, then flush
    val rows = graft.queries.EventQueries.eventsFor(spark, sf0001)
      .select("user_id", "ts", "event_type")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .sortBy(_._2.getTime).toSeq
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("user_id", "ts", "event_type")
    val q = EventStreams.anomalyFlags(df, moments)
      .writeStream.format("memory").queryName("anomaly_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(rows.size / 2)); q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2)); q.processAllAvailable()
      input.addData((0L, Timestamp.valueOf("2030-01-01 00:00:00"), "zz_flush"))
      q.processAllAvailable()
      val streamed = spark.table("anomaly_stream")
        .filter(col("event_type") =!= "zz_flush")
        .collect().map(r => (r.getString(0), r.getDate(1).toString,
                             r.getLong(2), r.getBoolean(3))).toSet
      assert(streamed == batch,
        s"missing=${batch.diff(streamed).take(3)} extra=${streamed.diff(batch).take(3)}")
      assert(batch.exists(_._4) || batch.nonEmpty)
    } finally q.stop()
  }

  test("contaminationGate: stream flags exactly the batch audit's docs") {
    import graft.streaming.CorpusStreams
    import graft.operators.{CorpusCuration, GraftText}
    implicit val sqlCtx = spark.sqlContext
    // split the real corpus like pipeline_contamination does
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("route", substring(md5(col("doc_id").cast("string")), 1, 4))
    val train = docs.filter(col("route") < "cccc").drop("route")
    val testD = docs.filter(col("route") >= "cccc").drop("route")
    val batchHit = CorpusCuration.contaminatedDocs(train, testD, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchHit.nonEmpty)
    // static gram table trained once in batch
    val testGrams = testD
      .select(GraftText.whitespaceTokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(explode(array_distinct(
        GraftText.wordNGrams(col("tk"), 8))).as("__gram"))
      .distinct()
    // stream the train split through the gate in two micro-batches
    val rows = train.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), ts(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusStreams.contaminationGate(df, testGrams)
      .writeStream.format("memory").queryName("contamination_stream")
      .outputMode("append").start()
    // string-key tier on the same stream: identical flags (the hashed
    // default only changes the join key representation)
    val input2 = MemoryStream[(Long, Timestamp, String)]
    val df2 = input2.toDF().toDF("doc_id", "ts", "text")
    val q2 = CorpusStreams.contaminationGate(df2, testGrams, hashGrams = false)
      .writeStream.format("memory").queryName("contamination_stream_str")
      .outputMode("append").start()
    try {
      input.addData(rows.take(150)); q.processAllAvailable()
      input.addData(rows.drop(150)); q.processAllAvailable()
      val streamed = spark.table("contamination_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batchHit, s"diff=${streamed.diff(batchHit)} / ${batchHit.diff(streamed)}")
      input2.addData(rows); q2.processAllAvailable()
      val streamedStr = spark.table("contamination_stream_str")
        .select("doc_id").as[Long].collect().toSet
      assert(streamedStr == batchHit,
        s"string tier diverged: ${streamedStr.diff(batchHit)} / ${batchHit.diff(streamedStr)}")
    } finally { q.stop(); q2.stop() }
  }

  test("fuzzyContaminationGate: stream pairs equal the batch fuzzy audit, " +
       "emit once, and a re-sent doc inside the watermark stays silent") {
    import graft.streaming.CorpusStreams
    import graft.operators.CorpusCuration
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("route", substring(md5(col("doc_id").cast("string")), 1, 4))
    val train = docs.filter(col("route") < "cccc").drop("route")
    val testD = docs.filter(col("route") >= "cccc").drop("route")
    val batch = CorpusCuration.fuzzyContaminatedDocs(train, testD,
        threshold = 0.7, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "route split should straddle planted near-dups")
    val rows = train.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), ts(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusStreams.fuzzyContaminationGate(df, testD,
        threshold = 0.7, shingleN = 3)
      .writeStream.format("memory").queryName("fuzzy_contamination_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(150)); q.processAllAvailable()
      input.addData(rows.drop(150)); q.processAllAvailable()
      val emitted = spark.table("fuzzy_contamination_stream")
        .select("doc_id", "test_id", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // pair-set parity with batch AND exactly-once emission (a pair
      // colliding in several bands must not produce several rows)
      assert(emitted.toSet == batch,
        s"extra=${emitted.toSet -- batch} missing=${batch -- emitted.toSet}")
      assert(emitted.length == batch.size, "duplicate emissions")
      // replaying a flagged doc inside the watermark adds nothing
      val flaggedId = batch.head._1
      input.addData(rows.filter(_._1 == flaggedId)); q.processAllAvailable()
      assert(spark.table("fuzzy_contamination_stream").count() == batch.size)
    } finally q.stop()
  }

  test("packStream: offsets continue across micro-batches per shard and " +
       "match batch packing on the same order") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.PackDoc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PackDoc]
    val q = CorpusStreams.packStream(input.toDS(), maxTokens = 512L)
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode("append").start()
    try {
      val batch1 = Seq(PackDoc("en", 1L, 300L), PackDoc("en", 2L, 300L),
                       PackDoc("de", 10L, 512L))
      val batch2 = Seq(PackDoc("en", 3L, 100L), PackDoc("en", 4L, 600L),
                       PackDoc("de", 11L, 1L))
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      val streamed = spark.table("pack_stream")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
                            ((r.getLong(3), r.getLong(4)))).toMap
      // state carries across batches: en offsets 0,300,600,700; de 0,512
      assert(streamed == Map(
        ("en", 1L) -> ((0L, 0L)), ("en", 2L) -> ((300L, 0L)),
        ("en", 3L) -> ((600L, 1L)), ("en", 4L) -> ((700L, 1L)),
        ("de", 10L) -> ((0L, 0L)), ("de", 11L) -> ((512L, 1L))), streamed)
      // batch parity on the same (doc_id) order
      val batch = graft.operators.TrainingPack.packBySize(
          (batch1 ++ batch2).toDF(), "n_tokens", "doc_id", 512L, Seq("shard"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
                            ((r.getLong(3), r.getLong(4)))).toMap
      assert(batch == streamed)
    } finally q.stop()
  }

  test("nearDupPairStream: stream pairs equal batch nearDupPairs on real " +
       "documents, across micro-batch boundaries") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    // same doc prep as dedup_minhash_lsh: distinct word-3-shingles
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
              expr("split(trim(text), '\\\\s+')").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
              expr("""array_distinct(transform(sequence(0, size(tk) - 3),
                     i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))""")
                .as("items"))
    val batch = graft.operators.GraftDedup
      .nearDupPairs(docs, "doc_id", "items", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty)
    // event times spread over 30 min (all within the 60-min horizon); the
    // split across two addData calls exercises cross-batch bucket state
    val rows = docs.collect()
      .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 30),
                 r.getSeq[String](1).toList))
      .sortBy(_._1).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, Timestamp, List[String])]
    val df = input.toDF().toDF("doc_id", "ts", "items")
    val q = CorpusStreams
      .nearDupPairStream(df, threshold = 0.8, horizonMinutes = 60)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val out = spark.table("neardup_stream").collect()
      assertEachPairOnce(out)
      val streamed =
        out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed.diff(batch)} batch-only=${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("warm-started LSH miners (VERDICT r15 #7): nearDupPairStream / " +
       "srpPairStream / hammingPairStream seeded from an at-rest sliver " +
       "find every pair STRADDLING the restart (cold provably misses " +
       "them), never re-emit snapshot-internal pairs, keep exactly-once; " +
       "an over-cap seed bucket is refused") {
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftDedup, GraftMedia, GraftSimilarity}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // ---- nearDup: originals are the pre-restart horizon (the snapshot
    // sliver), exact-copy twins arrive after the restart — every
    // (orig, twin) pair straddles by construction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
              expr("split(trim(text), '\\\\s+')").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
              expr("""array_distinct(transform(sequence(0, size(tk) - 3),
                     i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))""")
                .as("items"))
    val twins = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("items"))
    val union = docs.unionAll(twins)
    val batchAll = GraftDedup
      .nearDupPairs(union, "doc_id", "items", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val newIds = twins.select("doc_id").collect().map(_.getLong(0)).toSet
    val expectWarm = batchAll.filter(p => newIds(p._1) || newIds(p._2))
    val straddling = expectWarm.filter(p => newIds(p._1) != newIds(p._2))
    assert(straddling.nonEmpty, "fixture must plant restart-straddling pairs")
    val seedRows = docs.collect()
      .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 15),
                 r.getSeq[String](1).toList)).toSeq
    val newRows = twins.collect()
      .map(r => (r.getLong(0), ts(20 + r.getLong(0).toInt % 10),
                 r.getSeq[String](1).toList))
      .sortBy(_._1).toSeq
    val (n1, n2) = newRows.splitAt(newRows.size / 2)
    // cold restart: the checkpointless re-deploy — new rows only
    val inCold = MemoryStream[(Long, Timestamp, List[String])]
    val qCold = CorpusStreams
      .nearDupPairStream(inCold.toDF().toDF("doc_id", "ts", "items"),
                         threshold = 0.8, horizonMinutes = 60)
      .writeStream.format("memory").queryName("neardup_cold")
      .outputMode("append").start()
    try {
      inCold.addData(n1); qCold.processAllAvailable()
      inCold.addData(n2); qCold.processAllAvailable()
      val cold = spark.table("neardup_cold")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(cold.intersect(straddling).isEmpty &&
             cold.subsetOf(expectWarm),
        "cold restart must lose exactly the straddling pairs")
    } finally qCold.stop()
    // warm restart: the same feed, bucket residents seeded from the sliver
    val inWarm = MemoryStream[(Long, Timestamp, List[String])]
    val seedDf = seedRows.toDF("doc_id", "ts", "items")
    val qWarm = CorpusStreams
      .nearDupPairStream(inWarm.toDF().toDF("doc_id", "ts", "items"),
                         threshold = 0.8, horizonMinutes = 60,
                         initialDocs = Some(seedDf))
      .writeStream.format("memory").queryName("neardup_warm")
      .outputMode("append").start()
    try {
      inWarm.addData(n1); qWarm.processAllAvailable()
      inWarm.addData(n2); qWarm.processAllAvailable()
      val warmRows = spark.table("neardup_warm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(warmRows.length == warmRows.toSet.size, "exactly-once broken")
      assert(warmRows.toSet == expectWarm,
        s"warm-only=${warmRows.toSet.diff(expectWarm).take(5)} " +
        s"missing=${expectWarm.diff(warmRows.toSet).take(5)}")
    } finally qWarm.stop()
    // over-cap seed bucket refused at build, not silently trimmed
    val bomb = (1 to 5).map(i => (i.toLong, ts(0),
                                  List("x y z"))).toDF("doc_id", "ts", "items")
    val inBomb = MemoryStream[(Long, Timestamp, List[String])]
    val qBomb = CorpusStreams
      .nearDupPairStream(inBomb.toDF().toDF("doc_id", "ts", "items"),
                         threshold = 0.8, horizonMinutes = 60,
                         maxBucketResidents = 2,
                         initialDocs = Some(bomb))
      .writeStream.format("memory").queryName("neardup_bomb")
      .outputMode("append").start()
    val err = intercept[Exception] {
      try {
        // the first micro-batch materializes the seed state and trips
        // the over-cap refusal
        inBomb.addData(Seq((99L, ts(1), List("a b c"))))
        qBomb.processAllAvailable()
      } finally qBomb.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("seed bucket")), s"got: $err")

    // ---- srp: same restart split on the scaled-half twin construction
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vTwins = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
              concat(slice(col("embedding"), 1, 32),
                     transform(slice(col("embedding"), 33, 32),
                               x => x * lit(2))).as("embedding"))
    val vBatch = GraftSimilarity
      .srpPairs(base.unionAll(vTwins), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val vNewIds = vTwins.select("vec_id").collect().map(_.getLong(0)).toSet
    val vExpect = vBatch.filter(p => vNewIds(p._1) || vNewIds(p._2))
    assert(vExpect.exists(p => vNewIds(p._1) != vNewIds(p._2)))
    val vSeed = base
      .select(col("vec_id"), expr("pmod(vec_id, 15)").cast("int").as("m"),
              col("embedding"))
      .collect()
      .map(r => (r.getLong(0), ts(r.getInt(1)),
                 r.getSeq[Float](2).toList)).toSeq
      .toDF("vec_id", "ts", "embedding")
    val vNew = vTwins
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS float))")
                .as("embedding"))
      .collect()
      .map(r => (r.getLong(0), ts(20 + r.getLong(0).toInt % 10),
                 r.getSeq[Float](1).toList))
      .sortBy(_._1).toSeq
    val (v1, v2) = vNew.splitAt(vNew.size / 2)
    val inSrp = MemoryStream[(Long, Timestamp, List[Float])]
    val qSrp = CorpusStreams
      .srpPairStream(inSrp.toDF().toDF("vec_id", "ts", "embedding"),
                     threshold = 0.9, horizonMinutes = 60,
                     initialVecs = Some(vSeed))
      .writeStream.format("memory").queryName("srp_warm")
      .outputMode("append").start()
    try {
      inSrp.addData(v1); qSrp.processAllAvailable()
      inSrp.addData(v2); qSrp.processAllAvailable()
      val got = spark.table("srp_warm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == got.toSet.size, "exactly-once broken")
      assert(got.toSet == vExpect,
        s"warm-only=${got.toSet.diff(vExpect).take(5)} " +
        s"missing=${vExpect.diff(got.toSet).take(5)}")
    } finally qSrp.stop()

    // ---- hamming: the sliver is the cheapest of the three — (id, ts,
    // h64) straight off a stored perceptual-hash table
    val hDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def hashOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])].collect()
      .map { case (id, b) =>
        (id, GraftMedia.meanHash64(GraftMedia.decodeGray(
               GraftMedia.encodeBmp(GraftMedia.payloadRaster(b))))) }
    val hSeedPairs = hashOf(hDocs)
    val hNewPairs = hashOf(
      hDocs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val hBatch = GraftDedup
      .hammingPairs64((hSeedPairs ++ hNewPairs).toSeq.toDF("doc_id", "h64"),
                      "doc_id", "h64", maxHamming = 6, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hNewIds = hNewPairs.map(_._1).toSet
    val hExpect = hBatch.filter(p => hNewIds(p._1) || hNewIds(p._2))
    assert(hExpect.exists(p => hNewIds(p._1) != hNewIds(p._2)))
    val hSeed = hSeedPairs
      .map { case (id, h) => (id, ts((id % 15).toInt), h) }.toSeq
      .toDF("doc_id", "ts", "h64")
    val hNew = hNewPairs
      .map { case (id, h) => (id, ts(20 + (id % 10).toInt), h) }
      .sortBy(_._1).toSeq
    val (hm1, hm2) = hNew.splitAt(hNew.size / 2)
    val inHam = MemoryStream[(Long, Timestamp, Long)]
    val qHam = CorpusStreams
      .hammingPairStream(inHam.toDF().toDF("doc_id", "ts", "h64"),
                         maxHamming = 6, bands = 4, horizonMinutes = 60,
                         initialHashes = Some(hSeed))
      .writeStream.format("memory").queryName("hamming_warm")
      .outputMode("append").start()
    try {
      inHam.addData(hm1); qHam.processAllAvailable()
      inHam.addData(hm2); qHam.processAllAvailable()
      val got = spark.table("hamming_warm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == got.toSet.size, "exactly-once broken")
      assert(got.toSet == hExpect,
        s"warm-only=${got.toSet.diff(hExpect).take(5)} " +
        s"missing=${hExpect.diff(got.toSet).take(5)}")
    } finally qHam.stop()
  }

  test("editDistPairStream: stream pairs equal batch editDistancePairs on " +
       "real documents across micro-batch boundaries, incl. exact " +
       "distances; short strings route through the length path; horizon " +
       "and exactly-once hold") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val batch = graft.operators.GraftDedup
      .editDistancePairs(docs, maxDist = 8, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    val rows = docs.collect()
      .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 30), r.getString(1)))
      .sortBy(_._1).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusStreams
      .editDistPairStream(df, maxDist = 8, q = 3, horizonMinutes = 60)
      .writeStream.format("memory").queryName("editdist_stream")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val out = spark.table("editdist_stream").collect()
      assertEachPairOnce(out)
      val streamed =
        out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed.diff(batch)} batch-only=${batch.diff(streamed)}")
    } finally q.stop()
    // short strings (below q·(d+1)), exact-once, and the horizon: "cat"/
    // "cap" pair through the length path with dist 1; a third identical
    // doc past the horizon never pairs
    val in2 = MemoryStream[(Long, Timestamp, String)]
    val df2 = in2.toDF().toDF("doc_id", "ts", "text")
    val q2 = CorpusStreams
      .editDistPairStream(df2, maxDist = 2, q = 3, horizonMinutes = 30)
      .writeStream.format("memory").queryName("editdist_short")
      .outputMode("append").start()
    try {
      in2.addData(Seq((1L, ts(0), "cat"), (2L, ts(10), "cap")))
      q2.processAllAvailable()
      in2.addData(Seq((3L, ts(110), "cat")))
      q2.processAllAvailable()
      val got = spark.table("editdist_short")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((1L, 2L, 1L)), got.mkString(","))
    } finally q2.stop()
  }

  test("editDistPairStream: supplementary-plane (non-BMP) text gets " +
       "codepoint distances — stream equals batch off the BMP") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    // MATHEMATICAL DOUBLE-STRUCK letters are supplementary-plane (two
    // UTF-16 units each): a UTF-16 kernel both mis-grams (surrogate-half
    // substrings) and double-counts substitutions (a 2-codepoint edit
    // looks like 4 unit edits), silently dropping the long pair past
    // maxDist — the ADVICE r13 divergence this pins against the batch
    // tier, whose Spark length/substring/levenshtein all count codepoints
    val s1 = "𝕒𝕓𝕔𝕕𝕖𝕗𝕘𝕙𝕚𝕛𝕜𝕝" // 12 codepoints (24 UTF-16 units)
    val s2 = "𝕒𝕓𝕔𝕕𝕖𝕗𝕘𝕙𝕚𝕛𝕏𝕐" // two tail substitutions → dist 2
    val s3 = "𝕒𝕓𝕔"             // short path (3 < q·(d+1) = 9)
    val s4 = "𝕒𝕏𝕔"             // one substitution → dist 1
    val rows = Seq((1L, s1), (2L, s2), (3L, s3), (4L, s4))
    val batch = graft.operators.GraftDedup.editDistancePairs(
        rows.toDF("doc_id", "text"), maxDist = 2, q = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((1L, 2L, 2L), (3L, 4L, 1L)), batch.toString)
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusStreams
      .editDistPairStream(df, maxDist = 2, q = 3, horizonMinutes = 60)
      .writeStream.format("memory").queryName("editdist_nonbmp")
      .outputMode("append").start()
    try {
      input.addData(rows.map { case (id, txt) => (id, ts(id.toInt), txt) })
      q.processAllAvailable()
      val out = spark.table("editdist_nonbmp").collect()
      assertEachPairOnce(out)
      val streamed =
        out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed.diff(batch)} batch-only=${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("hammingPairStream: online perceptual image dedup equals batch " +
       "hammingPairs64 over the twin-augmented corpus across micro-batch " +
       "boundaries; horizon and exactly-once hold; overflow evicts with " +
       "the marker row") {
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftDedup, GraftMedia}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the mm_ahash_pairs corpus: documents + exact and same-length
    // perturbed twins, hashed through the real decode path
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val aug = docs
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 10 === 5 &&
                            length(col("text")) >= 5)
        .select((col("doc_id") + 200000).as("doc_id"),
                concat(lit("ZZZZ"), expr("substring(text, 5)")).as("text")))
    val payloads = aug.select(col("doc_id"),
                              col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])].collect()
      .map { case (id, b) =>
        (id, GraftMedia.encodeBmp(GraftMedia.payloadRaster(b))) }
    val hashesBatch = payloads.map { case (id, bmp) =>
      (id, GraftMedia.meanHash64(GraftMedia.decodeGray(bmp))) }
      .toSeq.toDF("doc_id", "h64")
    val batch = GraftDedup
      .hammingPairs64(hashesBatch, "doc_id", "h64",
                      maxHamming = 6, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    val rows = payloads
      .map { case (id, bmp) => (id, ts((id % 30).toInt), bmp) }
      .sortBy(_._1).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val df = input.toDF().toDF("doc_id", "ts", "payload")
    val q = CorpusStreams.hammingPairStream(
        CorpusStreams.imageHashStream(df),
        maxHamming = 6, bands = 4, horizonMinutes = 60)
      .writeStream.format("memory").queryName("hamming_stream")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val out = spark.table("hamming_stream").collect()
      assertEachPairOnce(out)
      val streamed =
        out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed.diff(batch).take(5)} " +
        s"batch-only=${batch.diff(streamed).take(5)}")
    } finally q.stop()
    // horizon + exactly-once on synthetic hashes: identical signatures
    // collide in EVERY band yet emit ONE pair row (first-colliding-band
    // ownership); a copy beyond the horizon never pairs
    val in2 = MemoryStream[(Long, Timestamp, Long)]
    val q2 = CorpusStreams.hammingPairStream(
        in2.toDF().toDF("doc_id", "ts", "h64"),
        maxHamming = 2, bands = 4, horizonMinutes = 30)
      .writeStream.format("memory").queryName("hamming_horizon")
      .outputMode("append").start()
    try {
      in2.addData(Seq((1L, ts(0), 0x1234L), (2L, ts(10), 0x1234L)))
      q2.processAllAvailable()
      in2.addData(Seq((3L, ts(110), 0x1234L))) // past both horizons
      q2.processAllAvailable()
      val got = spark.table("hamming_horizon")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      assert(got == Seq((1L, 2L, 0L)), got.mkString(","))
    } finally q2.stop()
    // overflow: cap 1 — the second identical arrival pairs, then evicts
    // the oldest resident from EVERY band bucket it occupies (markers
    // are per-bucket observations, one per band here)
    val in3 = MemoryStream[(Long, Timestamp, Long)]
    val q3 = CorpusStreams.hammingPairStream(
        in3.toDF().toDF("doc_id", "ts", "h64"),
        maxHamming = 2, bands = 4, horizonMinutes = 30,
        maxBucketResidents = 1)
      .writeStream.format("memory").queryName("hamming_overflow")
      .outputMode("append").start()
    try {
      in3.addData(Seq((1L, ts(0), 0x1234L), (2L, ts(10), 0x1234L)))
      q3.processAllAvailable()
      val got3 = spark.table("hamming_overflow")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got3.count(_ == ((1L, 2L, 0L))) == 1 &&
             got3.count(_ == ((1L, -1L, -1L))) == 4 && got3.length == 5,
        got3.mkString(","))
    } finally q3.stop()
  }

  test("videoHashStream: online perceptual video dedup equals batch " +
       "hammingPairs64 over videoHash64 of the sampled frames, across " +
       "micro-batch boundaries — the GIF container parse and the frame " +
       "sampling run inside the stream's decode map") {
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftDedup, GraftMedia}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val aug = docs
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val payloads = aug.select(col("doc_id"),
                              col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])].collect()
      .map { case (id, b) =>
        (id, GraftMedia.encodeGif(GraftMedia.payloadFrames(b))) }
    val hashesBatch = payloads.map { case (id, gif) =>
      (id, GraftMedia.videoHash64(
        GraftMedia.decodeSampledFrames(gif, sampleEvery = 2)._2)) }
      .toSeq.toDF("doc_id", "h64")
    val batch = GraftDedup
      .hammingPairs64(hashesBatch, "doc_id", "h64",
                      maxHamming = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty) // the exact twins pair at hamming 0
    val rows = payloads
      .map { case (id, gif) => (id, ts((id % 30).toInt), gif) }
      .sortBy(_._1).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, Timestamp, Array[Byte])]
    val df = input.toDF().toDF("doc_id", "ts", "payload")
    val q = CorpusStreams.hammingPairStream(
        CorpusStreams.videoHashStream(df, sampleEvery = 2),
        maxHamming = 2, bands = 4, horizonMinutes = 60)
      .writeStream.format("memory").queryName("video_hamming_stream")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val streamed = spark.table("video_hamming_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed.diff(batch).take(5)} " +
        s"batch-only=${batch.diff(streamed).take(5)}")
    } finally q.stop()
  }

  test("fixedSampleStream: entered minus evicted equals the batch " +
       "bottom-n-by-md5 per stratum, across scrambled arrival and " +
       "micro-batch boundaries; re-delivery no-ops; each id enters and " +
       "evicts at most once") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // adversarial arrival order: scrambled by a DIFFERENT hash than the
    // sampling priority, split across two micro-batches
    val feed = docs.sortBy { case (_, id) => md5hex(s"scramble-$id") }.toSeq
    val (h1, h2) = feed.splitAt(feed.size / 2)
    val input = MemoryStream[(String, Long)]
    val df = input.toDF().toDF("lang", "doc_id")
    val q = CorpusStreams
      .fixedSampleStream(df, n = 7, strataCol = Some("lang"))
      .writeStream.format("memory").queryName("sample_stream")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val afterAll = spark.table("sample_stream").count()
      input.addData(h1) // full re-delivery of half the corpus: no-op
      q.processAllAvailable()
      assert(spark.table("sample_stream").count() == afterAll,
        "re-delivered rows must not change the sample")
      val deltas = spark.table("sample_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      // at most one "in" and one "out" per (stratum, id)
      assert(deltas.groupBy(identity).values.forall(_.length == 1))
      val entered = deltas.filter(_._3 == "in").map(d => (d._1, d._2)).toSet
      val evicted = deltas.filter(_._3 == "out").map(d => (d._1, d._2)).toSet
      assert(evicted.subsetOf(entered))
      val current = entered -- evicted
      val want = docs.groupBy(_._1).toSeq.flatMap { case (l, rs) =>
        rs.map(_._2).sorted.distinct
          .sortBy(id => (md5hex(id.toString), id)).take(7).map(l -> _)
      }.toSet
      assert(current == want,
        s"stream-only=${current.diff(want)} batch-only=${want.diff(current)}")
    } finally q.stop()
  }

  test("fixedSampleStream warm start: seeded from a stored sample, the " +
       "delta replay over new arrivals equals the batch bottom-n over " +
       "(snapshot ∪ new); unchanged seeded members stay silent; an " +
       "over-full snapshot stratum is refused") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // yesterday: the batch bottom-7 per stratum over the first half of
    // ids; today: stream the second half into the seeded reservoir
    val (oldRows, newRows) = docs.partition(_._2 % 2 == 0)
    val snapTuples = oldRows.groupBy(_._1).toSeq.flatMap { case (l, rs) =>
      rs.map(_._2).distinct.sortBy(id => (md5hex(id.toString), id))
        .take(7).map(l -> _)
    }
    val snapshot = snapTuples.toDF("lang", "doc_id")
    val input = MemoryStream[(String, Long)]
    val q = CorpusStreams
      .fixedSampleStream(input.toDF().toDF("lang", "doc_id"), n = 7,
                         strataCol = Some("lang"),
                         initialSample = Some(snapshot))
      .writeStream.format("memory").queryName("sample_warm")
      .outputMode("append").start()
    try {
      val feed = newRows.sortBy { case (_, id) => md5hex(s"sc-$id") }.toSeq
      val (h1, h2) = feed.splitAt(feed.size / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val deltas = spark.table("sample_warm").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      // replay from the snapshot: in adds, out removes
      val serving = scala.collection.mutable.Set[(String, Long)](
        snapTuples: _*)
      deltas.foreach {
        case (l, id, "in") => serving += (l -> id)
        case (l, id, "out") => serving -= (l -> id)
        case other => fail(s"unexpected delta $other")
      }
      val want = (snapTuples ++ newRows).groupBy(_._1).toSeq
        .flatMap { case (l, rs) =>
          rs.map(_._2).distinct.sortBy(id => (md5hex(id.toString), id))
            .take(7).map(l -> _)
        }.toSet
      assert(serving.toSet == want,
        s"serving-only=${serving.toSet.diff(want)} " +
        s"want-only=${want.diff(serving.toSet)}")
      // a seeded member that SURVIVES never re-emits "in"
      val survivors = snapTuples.toSet.intersect(want)
      assert(!deltas.exists(d => d._3 == "in" &&
        survivors.contains((d._1, d._2))),
        "surviving seeded members must stay silent")
    } finally q.stop()
    // an over-full snapshot stratum cannot be a valid n-reservoir
    val bad = (1L to 9L).map(("en", _)).toDF("lang", "doc_id")
    val in2 = MemoryStream[(String, Long)]
    val q2 = CorpusStreams
      .fixedSampleStream(in2.toDF().toDF("lang", "doc_id"), n = 7,
                         strataCol = Some("lang"),
                         initialSample = Some(bad))
      .writeStream.format("memory").queryName("sample_warm_bad")
      .outputMode("append").start()
    try {
      in2.addData(Seq(("en", 100L)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage != null)
    } finally q2.stop()
  }

  test("componentStream: min-per-id over the emitted deltas equals batch " +
       "connectedComponents over the in-horizon pairs; cross-batch chain " +
       "merges TIGHTEN labels; the horizon separates; overflow evicts a " +
       "whole component with the marker row") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Timestamp)]
    val df = input.toDF().toDF("a_id", "b_id", "ts")
    val q = CorpusStreams.componentStream(df, horizonMinutes = 60)
      .writeStream.format("memory").queryName("comp_stream")
      .outputMode("append").start()
    try {
      // three micro-batches: two islands, then a chain extension and a
      // new min, then one bridge folding everything into component 0
      input.addData(Seq((1L, 2L, ts(0)), (5L, 6L, ts(5))))
      q.processAllAvailable()
      input.addData(Seq((2L, 3L, ts(10)), (0L, 6L, ts(12))))
      q.processAllAvailable()
      input.addData(Seq((3L, 5L, ts(15))))
      q.processAllAvailable()
      val emitted = spark.table("comp_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val finalLbl = emitted.groupBy(_._1)
        .map { case (id, rs) => id -> rs.map(_._2).min }
      val batch = graft.operators.GraftDedup.connectedComponents(
          Seq((1L, 2L), (5L, 6L), (2L, 3L), (0L, 6L), (3L, 5L))
            .toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(finalLbl == batch,
        s"stream=$finalLbl batch=$batch")
      // tightening is visible: 5 was first labeled 5, then 0 after the
      // bridge — both deltas are in the append stream
      assert(emitted.contains((5L, 5L)) && emitted.contains((5L, 0L)))
    } finally q.stop()
    // horizon: a component whose every pair is stale evicts whole WITH a
    // per-member retraction row; the late pair starts a FRESH component
    // instead of merging with it — and the delete-then-upsert replay
    // across the eviction reconstructs the live table exactly (a global
    // min-per-id would resurrect 2→1 here; ADVICE r14)
    val in2 = MemoryStream[(Long, Long, Timestamp)]
    val q2 = CorpusStreams
      .componentStream(in2.toDF().toDF("a_id", "b_id", "ts"),
                       horizonMinutes = 30)
      .writeStream.format("memory").queryName("comp_horizon")
      .outputMode("append").start()
    try {
      val serving = scala.collection.mutable.HashMap[Long, Long]()
      def apply(batch: Seq[(Long, Long)]): Unit = {
        batch.collect { case (id, -1L) => id }.foreach(serving.remove)
        batch.collect { case (id, c) if c >= 0 => serving(id) = c }
      }
      in2.addData(Seq((1L, 2L, ts(0)))); q2.processAllAvailable()
      val b1 = spark.table("comp_horizon")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      apply(b1)
      assert(serving == Map(1L -> 1L, 2L -> 1L), serving)
      in2.addData(Seq((2L, 3L, ts(200)))); q2.processAllAvailable()
      val all = spark.table("comp_horizon")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      apply(all.diff(b1))
      // live table after expiry = batch components over in-horizon pairs
      assert(serving == Map(2L -> 2L, 3L -> 2L), serving)
      assert(all.sorted == Seq((1L, -1L), (1L, 1L), (2L, -1L), (2L, 1L),
                               (2L, 2L), (3L, 2L)), all.mkString(","))
    } finally q2.stop()
    // overflow: maxResidents 2 — the second pair evicts the OLDEST
    // whole component with per-member retraction rows
    val in3 = MemoryStream[(Long, Long, Timestamp)]
    val q3 = CorpusStreams
      .componentStream(in3.toDF().toDF("a_id", "b_id", "ts"),
                       horizonMinutes = 60, maxResidents = 2)
      .writeStream.format("memory").queryName("comp_overflow")
      .outputMode("append").start()
    try {
      in3.addData(Seq((1L, 2L, ts(0)), (10L, 11L, ts(1))))
      q3.processAllAvailable()
      val got = spark.table("comp_overflow")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == Seq((1L, -1L), (2L, -1L), (10L, 10L), (11L, 10L)),
        got.mkString(","))
    } finally q3.stop()
  }

  test("KeepSetStore.incrementStream: micro-batched pair mining folds " +
       "into the " +
       "versioned at-rest keep-set — store ≡ from-scratch keepSet over " +
       "everything seen, checkpoint replays no-op on tags, and the " +
       "stored table warm-starts componentStream") {
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftDedup, KeepSetStore}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempStore("keepset_stream")
    // day 0 at rest: clusters {1,2}, {10,11}; singleton 20
    val d0Ids = Seq(1L, 2L, 10L, 11L, 20L).toDF("doc_id")
    val d0Pairs = Seq((1L, 2L), (10L, 11L)).toDF("a_id", "b_id")
    KeepSetStore.create(GraftDedup.keepSet(d0Ids, d0Pairs), dir)
    // the miners' output arrives in two micro-batches: 0 bridges the
    // stored clusters; 30-31 is brand new; (20, 2) is a late old-old link
    val in = MemoryStream[(Long, Long)]
    val q = KeepSetStore.incrementStream(
        dir, in.toDF().toDF("a_id", "b_id"), streamId = "miner")
      .start()
    try {
      in.addData(Seq((0L, 2L), (0L, 11L))); q.processAllAvailable()
      in.addData(Seq((30L, 31L), (20L, 2L))); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val allIds = Seq(0L, 1L, 2L, 10L, 11L, 20L, 30L, 31L).toDF("doc_id")
    val allPairs = Seq((1L, 2L), (10L, 11L), (0L, 2L), (0L, 11L),
                       (30L, 31L), (20L, 2L)).toDF("a_id", "b_id")
    val want = rows(GraftDedup.keepSet(allIds, allPairs))
    assert(rows(KeepSetStore.read(spark, dir)) == want)
    // checkpoint replay: re-running a committed batch's increment no-ops
    val vBefore = KeepSetStore.versions(spark, dir).max
    KeepSetStore.increment(spark, dir,
      Seq(30L, 31L).toDF("doc_id"), Seq((30L, 31L)).toDF("a_id", "b_id"),
      batchTag = Some("miner_b1"))
    assert(KeepSetStore.versions(spark, dir).max == vBefore)
    // the stored table seeds the ONLINE maintainer: warm componentStream
    // over tomorrow's first pairs ≡ from-scratch components over
    // (stored pairs ∪ new) — the store and the stream compose
    // every stored id is pair-involved in this corpus (no singletons),
    // so the whole table is the dup sliver the maintainer seeds from
    val snapshot = KeepSetStore.read(spark, dir)
      .select(col("doc_id").as("id"), col("cluster_id").as("component"))
    val in2 = MemoryStream[(Long, Long, Timestamp)]
    val q2 = CorpusStreams.componentStream(
        in2.toDF().toDF("a_id", "b_id", "ts"), horizonMinutes = 600,
        initialLabels = Some(snapshot), initialTs = Some(ts(0)))
      .writeStream.format("memory").queryName("ks_warm_comp")
      .outputMode("append").start()
    try {
      in2.addData(Seq((40L, 31L, ts(1)))); q2.processAllAvailable()
      val serving = scala.collection.mutable.HashMap[Long, Long](
        snapshot.collect().map(r => r.getLong(0) -> r.getLong(1)): _*)
      val deltas = spark.table("ks_warm_comp")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      deltas.collect { case (id, -1L) => id }.foreach(serving.remove)
      deltas.collect { case (id, c) if c >= 0 => serving(id) = c }
      val scratch = GraftDedup.connectedComponents(
          allPairs.unionByName(Seq((40L, 31L)).toDF("a_id", "b_id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(serving.toSet == scratch.toSet,
        s"serving-only=${serving.toSet.diff(scratch.toSet)} " +
        s"scratch-only=${scratch.toSet.diff(serving.toSet)}")
    } finally q2.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("componentStream warm start: seeded from a stored snapshot, the " +
       "delta replay over new pairs equals from-scratch components over " +
       "(snapshot ∪ new pairs); unchanged seeded labels stay silent") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // yesterday's clusters: {1,2}, {5,6,7}, {10,11} (component = min id)
    val oldPairs = Seq((1L, 2L), (5L, 6L), (6L, 7L), (10L, 11L))
    val snapshot = graft.operators.GraftDedup.connectedComponents(
      oldPairs.toDF("a_id", "b_id"))
    val snapMap = snapshot.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snapMap == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
                          7L -> 5L, 10L -> 10L, 11L -> 10L))
    val in = MemoryStream[(Long, Long, Timestamp)]
    val q = CorpusStreams.componentStream(
        in.toDF().toDF("a_id", "b_id", "ts"), horizonMinutes = 600,
        initialLabels = Some(snapshot), initialTs = Some(ts(0)))
      .writeStream.format("memory").queryName("comp_warm")
      .outputMode("append").start()
    try {
      // new pairs: 0 bridges {1,2} and {5,6,7} (new global min); 20–21
      // is a brand-new pair; {10,11} is untouched — NO delta may emit
      // for it (the serving layer already holds the snapshot)
      in.addData(Seq((0L, 2L, ts(1)), (0L, 6L, ts(2)), (20L, 21L, ts(3))))
      q.processAllAvailable()
      val deltas = spark.table("comp_warm")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(!deltas.exists(d => d._1 == 10L || d._1 == 11L),
        s"untouched cluster re-emitted: $deltas")
      // replay: snapshot + delete-then-upsert per batch
      val serving = scala.collection.mutable.HashMap[Long, Long](
        snapMap.toSeq: _*)
      deltas.collect { case (id, -1L) => id }.foreach(serving.remove)
      deltas.collect { case (id, c) if c >= 0 => serving(id) = c }
      val scratch = graft.operators.GraftDedup.connectedComponents(
          (oldPairs ++ Seq((0L, 2L), (0L, 6L), (20L, 21L)))
            .toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(serving == scratch,
        s"serving-only=${serving.toSet.diff(scratch.toSet)} " +
        s"scratch-only=${scratch.toSet.diff(serving.toSet)}")
      // the warm state ages from initialTs: a pair far past the horizon
      // expires the SEEDED clusters with retraction rows
      in.addData(Seq((30L, 31L, ts(100000)))); q.processAllAvailable()
      val all2 = spark.table("comp_warm")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val late = all2.diff(deltas)
      late.collect { case (id, -1L) => id }.foreach(serving.remove)
      late.collect { case (id, c) if c >= 0 => serving(id) = c }
      assert(serving == Map(30L -> 30L, 31L -> 30L), serving)
    } finally q.stop()
  }

  test("nearDupPairStream: docs farther apart than the horizon never pair, " +
       "and each pair is emitted exactly once") {
    // every bucket-pair miner: identical payloads 10 min apart give ONE
    // pair row despite colliding in every bucket (the ownership rule
    // dedups emission); an identical row 100 min after the second, in a
    // later micro-batch, is beyond the 30-min horizon of both residents
    // — no new pair
    for (m <- constMiners) {
      val (got, _) = m.run(Seq(Seq((1L, ts(0)), (2L, ts(10))),
                               Seq((3L, ts(110)))), 30, Int.MaxValue)
      assert(got == Seq((1L, 2L, m.same)), s"${m.label}: ${got.mkString(",")}")
    }
  }

  test("srpPairStream: stream pairs equal batch srpPairs on the augmented " +
       "embeddings, across micro-batch boundaries") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    // the dedup_embedding_cosine construction: planted near-dup twins
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val twins = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
              concat(slice(col("embedding"), 1, 32),
                     transform(slice(col("embedding"), 33, 32),
                               x => x * lit(2))).as("embedding"))
    val aug = base.unionAll(twins)
    val batch = graft.operators.GraftSimilarity
      .srpPairs(aug, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty)
    // event times spread over 30 min (inside the 60-min horizon); split
    // across two addData calls to exercise cross-batch bucket state
    val rows = aug
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS float))")
                .as("embedding"))
      .collect()
      .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 30),
                 r.getSeq[Float](1).toList))
      .sortBy(_._1).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, Timestamp, List[Float])]
    val df = input.toDF().toDF("vec_id", "ts", "embedding")
    val q = CorpusStreams
      .srpPairStream(df, threshold = 0.9, horizonMinutes = 60)
      .writeStream.format("memory").queryName("srp_stream")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val out = spark.table("srp_stream").collect()
      assertEachPairOnce(out)
      val streamed =
        out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed.diff(batch)} batch-only=${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("srpPairStream quantized state: same pair set as batch srpPairs, " +
       "scores integer-exactly equal batch graft_q8_cos, across " +
       "micro-batch boundaries") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val twins = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
              concat(slice(col("embedding"), 1, 32),
                     transform(slice(col("embedding"), 33, 32),
                               x => x * lit(2))).as("embedding"))
    val aug = base.unionAll(twins)
    // expected: the batch pair SET (twin cosines >= 0.9428 vs background
    // <= 0.52, so the ~0.02 q8 error can't flip membership at 0.9), each
    // pair scored by the deterministic q8 metric the quantized tier emits
    val vv = aug.select(col("vec_id").as("id"),
      expr("graft_q8(transform(embedding, x -> cast(x AS double)))").as("q"))
    val expected = graft.operators.GraftSimilarity
      .srpPairs(aug, threshold = 0.9).select("a_id", "b_id")
      .join(vv.select(col("id").as("a_id"), col("q").as("qa")), "a_id")
      .join(vv.select(col("id").as("b_id"), col("q").as("qb")), "b_id")
      .select(col("a_id"), col("b_id"),
              round(expr("graft_q8_cos(qa, qb)"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty)
    val rows = aug
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS float))")
                .as("embedding"))
      .collect()
      .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 30),
                 r.getSeq[Float](1).toList))
      .sortBy(_._1).toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, Timestamp, List[Float])]
    val df = input.toDF().toDF("vec_id", "ts", "embedding")
    val q = CorpusStreams
      .srpPairStream(df, threshold = 0.9, horizonMinutes = 60,
                     quantizedState = true)
      .writeStream.format("memory").queryName("srp_stream_q8")
      .outputMode("append").start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val out = spark.table("srp_stream_q8").collect()
      assertEachPairOnce(out)
      val streamed =
        out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == expected,
        s"stream-only=${streamed.diff(expected)} " +
        s"batch-only=${expected.diff(streamed)}")
    } finally q.stop()
  }

  test("srpPairStream quantized state measurably shrinks the state store " +
       "on the same input") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS float))")
                .as("embedding"))
    val rows = base.collect()
      .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 30),
                 r.getSeq[Float](1).toList)).toSeq
    def stateBytes(quantized: Boolean): Long = {
      val input = MemoryStream[(Long, Timestamp, List[Float])]
      val name = s"srp_statebytes_$quantized"
      val q = CorpusStreams
        .srpPairStream(input.toDF().toDF("vec_id", "ts", "embedding"),
                       threshold = 0.9, horizonMinutes = 60,
                       quantizedState = quantized)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(rows); q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
      } finally q.stop()
    }
    val exact = stateBytes(false)
    val quant = stateBytes(true)
    // dim 64: resident = id + ts + 40 band sigs + vector payload; the
    // payload drops 512 B (doubles) -> 64 B (bytes), so the whole store
    // should shrink by a solid factor, not a rounding error
    assert(quant < (exact * 3) / 4,
      s"quantized state should be substantially smaller: " +
      s"exact=$exact quantized=$quant")
  }

  test("hybridServeStream: the fused online serve answers each watermark-" +
       "closed query identically to the batch hybridTopKWith at the same " +
       "(k, kCand, rrfK, nprobe), across micro-batch boundaries, incl. " +
       "per-leg ranks and rrf values") {
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftSimilarity, GraftText, HybridRetrieval}
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val qBatch = docs.filter(col("doc_id") % 25 === 3)
        .join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("q_id"),
                GraftText.whitespaceTokens(col("text")).as("q_terms"),
                col("v").as("qv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
         if (r.isNullAt(4)) -1L else r.getLong(4),
         if (r.isNullAt(5)) -1L else r.getLong(5))
      val rows = qBatch.collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8),
                   r.getSeq[String](1).toList, r.getSeq[Double](2).toList))
        .sortBy(_._1).toSeq
      val (h1, h2) = rows.splitAt(rows.size / 2)
      // STORED-impact serve (VERDICT r13 #1c): the same stream off an
      // at-rest impact store — addends at rest are the shared kernel's,
      // so stored-serve ≡ in-memory-serve ≡ batch, bit-for-bit; and the
      // batch hybridTopKWithImpacts off the same store matches too
      val storeDir = tempStore("graft_impact_store")
      graft.operators.ImpactObjectStore.rebuild(docs, storeDir, buckets = 16)
      val stored = graft.operators.ImpactObjectStore.read(spark, storeDir)
      // MANIFEST substrate (r15): the same stream off the object-store
      // layout — ImpactObjectStore.read returns the same StoredImpacts
      // surface with bit-identical addends, so the S3-class deployment
      // serves streaming RAG too, not just batch
      val manifestDir = tempStore("graft_impact_manifest_stream")
      graft.operators.ImpactObjectStore.rebuild(docs, manifestDir,
                                                buckets = 16)
      val manifestIdx =
        graft.operators.ImpactObjectStore.read(spark, manifestDir)
      // two RRF parameter points: the default, and rrfK = 1 with
      // kCand = k, where every fused score sits on the smallest
      // denominators and the heaps hold no slack
      for ((rrfK, kCand) <- Seq((60, 30), (1, 10))) {
        val batchServe = HybridRetrieval.hybridTopKWith(
            idx, docs, qBatch, k = 10, kCand = kCand, rrfK = rrfK,
            nprobe = 4)
          .collect().map(key).toSet
        assert(batchServe.nonEmpty)
        val input = MemoryStream[(Long, Timestamp, List[String], List[Double])]
        val df = input.toDF().toDF("q_id", "ts", "q_terms", "qv")
        val q = CorpusStreams
          .hybridServeStream(idx, docs, df, k = 10, kCand = kCand,
                             rrfK = rrfK, nprobe = 4, latenessMinutes = 10)
          .writeStream.format("memory").queryName(s"hybrid_serve_$rrfK")
          .outputMode("append").start()
        try {
          input.addData(h1); q.processAllAvailable()
          input.addData(h2); q.processAllAvailable()
          input.addData(Seq((999999L, ts(600), List("the"),
                             rows.head._4)))
          q.processAllAvailable()
          val streamed = spark.table(s"hybrid_serve_$rrfK")
            .filter(col("q_id") =!= 999999L)
            .select("q_id", "doc_id", "rank", "rrf", "lex_rank", "sem_rank")
            .collect().map(key).toSet
          assert(streamed == batchServe,
            s"rrfK=$rrfK stream-only=${streamed.diff(batchServe).take(5)} " +
            s"batch-only=${batchServe.diff(streamed).take(5)}")
        } finally q.stop()
        val batchStored = HybridRetrieval.hybridTopKWithImpacts(
            idx, stored, qBatch, k = 10, kCand = kCand, rrfK = rrfK,
            nprobe = 4)
          .collect().map(key).toSet
        assert(batchStored == batchServe,
          s"rrfK=$rrfK: batch serve off the stored impacts must equal the " +
          "corpus-fold serve")
        for ((impacts, label) <- Seq((stored.impacts, "stored"),
                                     (manifestIdx.impacts, "manifest"))) {
          val input2 = MemoryStream[(Long, Timestamp, List[String], List[Double])]
          val df2 = input2.toDF().toDF("q_id", "ts", "q_terms", "qv")
          val name = s"hybrid_serve_${label}_$rrfK"
          val q2 = CorpusStreams
            .hybridServeStreamStored(idx, impacts, df2,
                                     k = 10, kCand = kCand, rrfK = rrfK,
                                     nprobe = 4, latenessMinutes = 10)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").start()
          try {
            input2.addData(h1); q2.processAllAvailable()
            input2.addData(h2); q2.processAllAvailable()
            input2.addData(Seq((999999L, ts(600), List("the"), rows.head._4)))
            q2.processAllAvailable()
            val streamed2 = spark.table(name)
              .filter(col("q_id") =!= 999999L)
              .select("q_id", "doc_id", "rank", "rrf", "lex_rank", "sem_rank")
              .collect().map(key).toSet
            assert(streamed2 == batchServe,
              s"rrfK=$rrfK $label-stream-only=" +
              s"${streamed2.diff(batchServe).take(5)} " +
              s"batch-only=${batchServe.diff(streamed2).take(5)}")
          } finally q2.stop()
        }
      }
    } finally { idx.unpersist(); () }
  }

  test("hybridServeStreamPruned: the MaxScore essential-list cut on the " +
       "streaming lexical leg — covered queries answer identically to the " +
       "batch unpruned serve (pruning is exact by refusal), and an " +
       "uncovered query REFUSES in-stream instead of silently degrading") {
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftSimilarity, HybridRetrieval, ImpactObjectStore}
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    // Zipf-head corpus (the text_bm25_pruned_skew convention): ' the' in
    // every doc (df = N, bound ~0) and the rare discriminative
    // ' uncommonmark' in every 5th — queries [uncommonmark, the] at
    // essential = 1 generate candidates from the rare term's postings
    // only, with the stopword's corpus-wide posting mass skippable
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"),
              concat(col("text"), lit(" the"),
                     when(col("doc_id") % 5 === 0, lit(" uncommonmark"))
                       .otherwise(lit(""))).as("text"))
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    val storeDir = tempStore("graft_impact_pruned_stream")
    ImpactObjectStore.rebuild(docs, storeDir, buckets = 16)
    val stored = ImpactObjectStore.read(spark, storeDir)
    try {
      val qBatch = docs.filter(col("doc_id") % 25 === 3)
        .join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("q_id"),
                expr("array('uncommonmark', 'the')").as("q_terms"),
                col("v").as("qv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
         if (r.isNullAt(4)) -1L else r.getLong(4),
         if (r.isNullAt(5)) -1L else r.getLong(5))
      val batchServe = HybridRetrieval.hybridTopKWithImpacts(
          idx, stored, qBatch, k = 5, kCand = 8, rrfK = 60, nprobe = 4)
        .collect().map(key).toSet
      assert(batchServe.nonEmpty)
      val rows = qBatch.collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8),
                   r.getSeq[String](1).toList, r.getSeq[Double](2).toList))
        .sortBy(_._1).toSeq
      val (h1, h2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(Long, Timestamp, List[String], List[Double])]
      val df = input.toDF().toDF("q_id", "ts", "q_terms", "qv")
      val q = CorpusStreams
        .hybridServeStreamPruned(idx, stored, df, essential = 1,
                                 k = 5, kCand = 8, rrfK = 60,
                                 nprobe = 4, latenessMinutes = 10)
        .writeStream.format("memory").queryName("hybrid_serve_pruned")
        .outputMode("append").start()
      try {
        input.addData(h1); q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        // the flush row is itself a 1-term query: nothing skipped
        // (__ne = 0), so it passes the guard while closing the watermark
        input.addData(Seq((999999L, ts(600), List("the"), rows.head._4)))
        q.processAllAvailable()
        val streamed = spark.table("hybrid_serve_pruned")
          .filter(col("q_id") =!= 999999L)
          .select("q_id", "doc_id", "rank", "rrf", "lex_rank", "sem_rank")
          .collect().map(key).toSet
        assert(streamed == batchServe,
          s"pruned-stream-only=${streamed.diff(batchServe).take(5)} " +
          s"batch-only=${batchServe.diff(streamed).take(5)}")
      } finally q.stop()
      // REFUSAL: kCand larger than the essential term's candidate pool
      // (100 docs carry 'uncommonmark') — a full heap is impossible, the
      // skipped mass is nonzero, so the guard must kill the query loudly
      val input2 = MemoryStream[(Long, Timestamp, List[String], List[Double])]
      val df2 = input2.toDF().toDF("q_id", "ts", "q_terms", "qv")
      val q2 = CorpusStreams
        .hybridServeStreamPruned(idx, stored, df2, essential = 1,
                                 k = 5, kCand = 150, rrfK = 60,
                                 nprobe = 4, latenessMinutes = 10)
        .writeStream.format("memory").queryName("hybrid_serve_refuse")
        .outputMode("append").start()
      try {
        val thrown = intercept[Exception] {
          input2.addData(Seq(rows.head)); q2.processAllAvailable()
          input2.addData(Seq((999999L, ts(600), List("the"), rows.head._4)))
          q2.processAllAvailable()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert((msgs(thrown) ++ q2.exception.toSeq.flatMap(msgs))
                 .exists(_.contains("does not cover")),
          s"expected the covering refusal, got: $thrown")
      } finally q2.stop()
    } finally { idx.unpersist(); () }
  }

  test("mmrServeStream: diversified online serve answers each watermark-" +
       "closed query identically to the batch mmrTopKWith at the same " +
       "(k, kCand, lambda, nprobe), across micro-batch boundaries") {
    import graft.streaming.CorpusStreams
    import graft.operators.GraftSimilarity
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val qBatch = e.filter(col("vec_id") % 25 === 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val batchServe = GraftSimilarity
        .mmrTopKWith(idx, qBatch, k = 5, kCand = 20, lambda = 0.5)
        .collect().map(key).toSet
      assert(batchServe.nonEmpty)
      val rows = qBatch.collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8),
                   r.getSeq[Double](1).toList))
        .sortBy(_._1).toSeq
      val (h1, h2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(Long, Timestamp, List[Double])]
      val df = input.toDF().toDF("q_id", "ts", "qv")
      val q = CorpusStreams
        .mmrServeStream(idx, df, k = 5, kCand = 20, lambda = 0.5,
                        latenessMinutes = 10)
        .writeStream.format("memory").queryName("mmr_serve")
        .outputMode("append").start()
      try {
        input.addData(h1); q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        input.addData(Seq((999999L, ts(600), rows.head._3)))
        q.processAllAvailable()
        val streamed = spark.table("mmr_serve")
          .filter(col("q_id") =!= 999999L)
          .select("q_id", "n_id", "rank", "mmr")
          .collect().map(key).toSet
        assert(streamed == batchServe,
          s"stream-only=${streamed.diff(batchServe)} " +
          s"batch-only=${batchServe.diff(streamed)}")
      } finally q.stop()
    } finally { idx.unpersist(); () }
  }

  test("ivfServeStream: a query stream served against a static IVF index " +
       "answers each watermark-closed query identically to the batch " +
       "serve, across micro-batch boundaries") {
    import graft.streaming.CorpusStreams
    import graft.operators.GraftSimilarity
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val qBatch = e.filter(col("vec_id") % 25 === 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val batchServe = GraftSimilarity.ivfTopKWith(idx, qBatch, k = 5)
        .collect().map(key).toSet
      assert(batchServe.nonEmpty)
      // queries arrive over two micro-batches at spread event times; a
      // final far-future query advances the watermark so every real
      // query's aggregation closes (its own answer stays open — excluded)
      val rows = qBatch.collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8),
                   r.getSeq[Double](1).toList))
        .sortBy(_._1).toSeq
      val (h1, h2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(Long, Timestamp, List[Double])]
      val df = input.toDF().toDF("q_id", "ts", "qv")
      val q = CorpusStreams
        .ivfServeStream(idx, df, k = 5, latenessMinutes = 10)
        .writeStream.format("memory").queryName("ivf_serve")
        .outputMode("append").start()
      try {
        input.addData(h1); q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        input.addData(Seq((999999L, ts(600), rows.head._3)))
        q.processAllAvailable()
        val streamed = spark.table("ivf_serve")
          .filter(col("q_id") =!= 999999L)
          .select("q_id", "n_id", "rnk", "cos")
          .collect().map(key).toSet
        assert(streamed == batchServe,
          s"stream-only=${streamed.diff(batchServe)} " +
          s"batch-only=${batchServe.diff(streamed)}")
      } finally q.stop()
      // the same stream served against the AT-REST store (store frames
      // re-scanned per micro-batch) answers identically
      val dir = tempStore("ivf_serve_store")
      try {
        graft.operators.IvfObjectStore.create(spark, idx, dir)
        val stored = graft.operators.IvfObjectStore.read(spark, dir)
        val input2 = MemoryStream[(Long, Timestamp, List[Double])]
        val q2 = CorpusStreams
          .ivfServeStream(stored, input2.toDF().toDF("q_id", "ts", "qv"),
                          k = 5, latenessMinutes = 10)
          .writeStream.format("memory").queryName("ivf_serve_stored")
          .outputMode("append").start()
        try {
          input2.addData(h1 ++ h2); q2.processAllAvailable()
          input2.addData(Seq((999999L, ts(600), rows.head._3)))
          q2.processAllAvailable()
          val viaStore = spark.table("ivf_serve_stored")
            .filter(col("q_id") =!= 999999L)
            .select("q_id", "n_id", "rnk", "cos")
            .collect().map(key).toSet
          assert(viaStore == batchServe,
            s"store-only=${viaStore.diff(batchServe)} " +
            s"batch-only=${batchServe.diff(viaStore)}")
        } finally q2.stop()
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    } finally idx.unpersist(blocking = true)
  }

  test("ivfServeStream(where): the online filtered serve answers exactly " +
       "like the filtered batch serve, and never emits an " +
       "out-of-population neighbor") {
    import graft.streaming.CorpusStreams
    import graft.operators.GraftSimilarity
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"),
              col("label"))
    val idx = GraftSimilarity.buildIvfIndex(e, metaCols = Seq("label"))
      .persist()
    try {
      val pred = col("label") === 3
      val qBatch = e.filter(col("vec_id") % 25 === 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val batchServe = GraftSimilarity
        .ivfTopKWith(idx, qBatch, k = 5, where = Some(pred))
        .collect().map(key).toSet
      assert(batchServe.nonEmpty)
      val rows = qBatch.collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8),
                   r.getSeq[Double](1).toList))
        .sortBy(_._1).toSeq
      val input = MemoryStream[(Long, Timestamp, List[Double])]
      val q = CorpusStreams
        .ivfServeStream(idx, input.toDF().toDF("q_id", "ts", "qv"),
                        k = 5, latenessMinutes = 10, where = Some(pred))
        .writeStream.format("memory").queryName("ivf_serve_filtered")
        .outputMode("append").start()
      try {
        input.addData(rows); q.processAllAvailable()
        input.addData(Seq((999999L, ts(600), rows.head._3)))
        q.processAllAvailable()
        val streamed = spark.table("ivf_serve_filtered")
          .filter(col("q_id") =!= 999999L)
          .select("q_id", "n_id", "rnk", "cos")
          .collect().map(key).toSet
        assert(streamed == batchServe,
          s"stream-only=${streamed.diff(batchServe)} " +
          s"batch-only=${batchServe.diff(streamed)}")
        val pop = e.filter(pred).select("vec_id").collect()
          .map(_.getLong(0)).toSet
        assert(streamed.forall(r => pop.contains(r._2)),
          "the filtered stream must never emit an out-of-population id")
      } finally q.stop()
    } finally idx.unpersist(blocking = true)
  }

  test("srpPairStream: vectors beyond the horizon never pair, and a pair " +
       "colliding in every band is emitted exactly once — both state " +
       "tiers (exact and quantized)") {
    // the same pin as the nearDupPairStream horizon test, with all three
    // rows in ONE micro-batch: no watermark has aged the residents yet,
    // so the explicit |Δts| ≤ horizon check alone keeps row 3 unpaired
    for (m <- constMiners) {
      val (got, _) = m.run(Seq(Seq((1L, ts(0)), (2L, ts(10)), (3L, ts(110)))),
                           30, Int.MaxValue)
      assert(got == Seq((1L, 2L, m.same)), s"${m.label}: ${got.mkString(",")}")
    }
  }

  test("sessionizer: an event after its session was TIMEOUT-closed opens a " +
       "new session, not a resurrection of the old key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_posttimeout")
      .outputMode("append").start()
    try {
      def us(t: Timestamp): Long = t.getTime * 1000L
      input.addData(Event(7L, ts(0), 1.5))
      q.processAllAvailable()
      // unrelated user far in the future: watermark passes 0:30, the state
      // store fires user 7's event-time timeout and emits the closed session
      input.addData(Event(42L, ts(300), 0.0))
      q.processAllAvailable()
      val afterTimeout = spark.table("sessions_posttimeout")
        .filter(col("user_id") === 7L)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(afterTimeout.toSeq == Seq((us(ts(0)), 1L, 1.5)),
        s"timeout should have closed the first session: ${afterTimeout.toSeq}")
      // user 7 returns AFTER the timeout: must open a FRESH session keyed by
      // its own start time — not resurrect (or duplicate) the closed one
      input.addData(Event(7L, ts(310), 2.5))
      q.processAllAvailable()
      input.addData(Event(42L, ts(900), 0.0)) // close the second session too
      q.processAllAvailable()
      val all = spark.table("sessions_posttimeout")
        .filter(col("user_id") === 7L)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(all == Set((us(ts(0)), 1L, 1.5), (us(ts(310)), 1L, 2.5)),
        s"got $all")
    } finally q.stop()
  }

  test("srpPairStream hot-bucket cap: adversarial same-bucket input keeps " +
       "state bounded with deterministic eviction markers; a non-binding " +
       "cap changes nothing — both state tiers") {
    // every miner, srp in both tiers: 60 rows at one event time, all in
    // every bucket they key to
    val rows = (1 to 60).map(i => (i.toLong, ts(5)))
    for (m <- constMiners) {
      def run(cap: Int): (Set[(Long, Long)], Set[Long], Long) = {
        val (out, bytes) = m.run(Seq(rows), 60, cap)
        (out.filter(_._2 != -1L).map(p => (p._1, p._2)).toSet,
         out.filter(_._2 == -1L).map(_._1).toSet, bytes)
      }
      val (pairsFree, markersFree, bytesFree) = run(Int.MaxValue)
      assert(markersFree.isEmpty, s"${m.label}: uncapped run must emit no markers")
      val (pairsCap, markersCap, bytesCap) = run(8)
      // deterministic oldest-first eviction: same ts ⇒ smallest id goes;
      // arrivals 9..60 each push out one resident ⇒ ids 1..52 marked
      assert(markersCap == (1L to 52L).toSet,
        s"${m.label} markers=$markersCap")
      // a capped bucket pairs an arrival only with its 8 retained
      // residents — every emitted pair spans at most 8 arrival ranks,
      // and is a subset of the uncapped pair set (the recall trade)
      assert(pairsCap.nonEmpty && pairsCap.subsetOf(pairsFree), m.label)
      assert(pairsCap.forall { case (a, b) => b - a <= 8 },
        s"${m.label}: ${pairsCap.filter(p => p._2 - p._1 > 8)}")
      // the point of the cap: state is bounded by cap·buckets, not horizon
      assert(bytesCap < bytesFree,
        s"${m.label}: capped state $bytesCap !< $bytesFree")
      // non-binding cap: byte-for-byte the uncapped output, no markers
      val (pairsLoose, markersLoose, _) = run(100)
      assert(pairsLoose == pairsFree && markersLoose.isEmpty, m.label)
    }
  }

  test("nearDupPairStream hot-bucket cap: constant shingle sets bound " +
       "state with markers; pairs only span retained residents") {
    // every miner: 30 constant-payload rows at one event time, cap 5
    val rows = (1 to 30).map(i => (i.toLong, ts(5)))
    for (m <- constMiners) {
      val (out, _) = m.run(Seq(rows), 60, 5)
      val markers = out.filter(_._2 == -1L)
      val pairs = out.filterNot(_._2 == -1L)
      assert(markers.forall(_._3 == -1.0), m.label)
      assert(markers.map(_._1).toSet == (1L to 25L).toSet,
        s"${m.label} markers=${markers.map(_._1).toSet}")
      // identical payloads: every retained-resident pair verifies at the
      // identical-pair score, and no pair reaches past the 5 retained
      // residents
      assert(pairs.nonEmpty && pairs.forall(_._3 == m.same), m.label)
      assert(pairs.forall { case (a, b, _) => b - a <= 5 },
        s"${m.label}: " + pairs.filter(p => p._2 - p._1 > 5).mkString(","))
    }
  }

  test("hot-bucket eviction removes exactly one resident: duplicate-id " +
       "redelivery at cap=1 cannot empty a bucket and kill the query") {
    // at-least-once shape, for every miner: the same id delivered twice,
    // plus two more rows in the same (degenerate) buckets. An id-keyed
    // eviction filter would remove BOTH duplicates at once, empty the
    // bucket, and throw on the empty tsMs max — a checkpoint-replayed
    // poison pill. `run` rethrows a failed query.
    for (m <- constMiners) {
      val (out, _) = m.run(Seq(Seq((1L, ts(0)), (1L, ts(0)),
                                   (2L, ts(1)), (3L, ts(2)))), 60, 1)
      // markers flowed (cap 1 forces evictions); the stream survived them
      assert(out.count(_._2 == -1L) > 0, s"${m.label}: expected markers: $out")
      // the duplicate's eviction took ONE instance of id 1, so the other
      // still pairs with 2; 3 then meets only 2, the one resident left
      assert(out.filter(_._2 != -1L).map(p => (p._1, p._2)).toSet ==
               Set((1L, 2L), (2L, 3L)), s"${m.label}: $out")
    }
  }

  test("ivfServeStream drops a zero-norm query instead of dying: the " +
       "malformed row gets no answer, every other query is served") {
    // table-driven over every vector serve: ivf, ivf(where), pq, the three
    // hybrid serves and mmr share one query contract, so each answers the
    // good queries and gives no rows to the zero-norm or dim-drifted one
    import graft.streaming.CorpusStreams
    import graft.operators.{GraftPq, GraftSimilarity, ImpactObjectStore}
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"),
              col("label"))
    val idx = GraftSimilarity.buildIvfIndex(e, metaCols = Seq("label"))
      .persist()
    val cb = GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2)
    val enc = GraftPq.pqEncode(e, cb).persist()
    val storeDir = tempStore("serve_malformed_impacts")
    ImpactObjectStore.rebuild(docs, storeDir, buckets = 16)
    val stored = ImpactObjectStore.read(spark, storeDir)
    type Serve = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    val serves: Seq[(String, Serve)] = Seq(
      "ivf" -> (q => CorpusStreams.ivfServeStream(idx, q, k = 3)),
      "ivfwhere" -> (q => CorpusStreams.ivfServeStream(
        idx, q, k = 3, where = Some(col("label") < 5))),
      "pq" -> (q => CorpusStreams.pqServeStream(cb, enc, e, q, k = 3)),
      "hybrid" -> (q => CorpusStreams.hybridServeStream(
        idx, docs, q, k = 3, kCand = 5)),
      "hybridstored" -> (q => CorpusStreams.hybridServeStreamStored(
        idx, stored.impacts, q, k = 3, kCand = 5)),
      "hybridpruned" -> (q => CorpusStreams.hybridServeStreamPruned(
        idx, stored, q, k = 3, kCand = 5)),
      "mmr" -> (q => CorpusStreams.mmrServeStream(idx, q, k = 3, kCand = 5)))
    try {
      val good = e.filter(col("vec_id") < 3)
        .select(col("vec_id"),
                expr("transform(v, x -> cast(x AS float))").as("qv"))
        .collect()
        .map(r => (r.getLong(0), ts(1), List("the"),
                   r.getSeq[Float](1).toList)).toSeq
      val dim = good.head._4.size
      val zero = (999L, ts(1), List("the"), List.fill(dim)(0f))
      // wrong-dim but nonzero: would throw in graft_cosine's strict-length
      // kernel if it reached the probe — must be dropped, not fatal
      val drifted = (998L, ts(1), List("the"), List.fill(dim / 2)(0.5f))
      for ((name, serve) <- serves) {
        val input = MemoryStream[(Long, Timestamp, List[String], List[Float])]
        val q = serve(input.toDF().toDF("q_id", "ts", "q_terms", "qv"))
          .writeStream.format("memory").queryName(s"serve_malformed_$name")
          .outputMode("append").start()
        try {
          input.addData(good :+ zero :+ drifted)
          q.processAllAvailable()
          // watermark push so the good queries' top-k finalize (full-dim,
          // nonzero — a malformed push row would itself be filtered before
          // the watermark and never advance it)
          input.addData(Seq((-1L, ts(600), List("the"), List.fill(dim)(0.1f))))
          q.processAllAvailable()
          assert(q.exception.isEmpty,
            s"$name: malformed rows must not kill the serve stream: " +
            s"${q.exception}")
          val answered = spark.table(s"serve_malformed_$name").collect()
            .map(_.getLong(0)).toSet
          assert(good.map(_._1).toSet.subsetOf(answered),
            s"$name: good queries must be served: $answered")
          assert(!answered.contains(999L),
            s"$name: the zero-norm query must get no rows, not fake ones")
          assert(!answered.contains(998L),
            s"$name: the dim-drifted query must get no rows, not " +
            "truncated-prefix ones")
        } finally q.stop()
      }
    } finally { idx.unpersist(blocking = true); enc.unpersist(); () }
  }

  test("nprobe = 0 is refused, not served empty: ivfTopKWith, mmrTopKWith " +
       "and mmrServeStream require nprobe >= 1") {
    import graft.streaming.CorpusStreams
    import graft.operators.GraftSimilarity
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val qBatch = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val input = MemoryStream[(Long, Timestamp, List[Double])]
      val entries: Seq[(String, () => Any)] = Seq(
        "ivfTopKWith" -> (() => GraftSimilarity
          .ivfTopKWith(idx, qBatch, k = 3, nprobe = 0).collect()),
        "mmrTopKWith" -> (() => GraftSimilarity
          .mmrTopKWith(idx, qBatch, k = 3, kCand = 5, nprobe = 0).collect()),
        "mmrServeStream" -> (() => CorpusStreams.mmrServeStream(
          idx, input.toDF().toDF("q_id", "ts", "qv"), k = 3, kCand = 5,
          nprobe = 0)))
      for ((name, run) <- entries) {
        val err = intercept[IllegalArgumentException](run())
        assert(err.getMessage.contains("nprobe must be >= 1"),
          s"$name: ${err.getMessage}")
      }
    } finally idx.unpersist(blocking = true)
  }

  test("srpPairStream quantized state fails loudly on dim drift, like the " +
       "batch graft_q8_cos kernel") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    // two all-zero vectors of different dims: every hyperplane dot is 0,
    // so their band signatures agree and they meet in a bucket — where
    // the quantized verify must throw, not score a truncated prefix
    val input = MemoryStream[(Long, Timestamp, List[Float])]
    val q = CorpusStreams
      .srpPairStream(input.toDF().toDF("vec_id", "ts", "embedding"),
                     threshold = 0.5, horizonMinutes = 60,
                     quantizedState = true)
      .writeStream.format("memory").queryName("srp_dim_drift")
      .outputMode("append").start()
    try {
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        input.addData(Seq((1L, ts(0), List.fill(8)(0f)),
                          (2L, ts(1), List.fill(16)(0f))))
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(messages(err).exists(_.contains("vector lengths differ")),
        messages(err).mkString(" | "))
    } finally q.stop()
  }

  test("srpPairStream exact state fails loudly on dim drift too — the " +
       "cosExact kernel mirrors graft_cosine's strict-length contract") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, List[Float])]
    val q = CorpusStreams
      .srpPairStream(input.toDF().toDF("vec_id", "ts", "embedding"),
                     threshold = 0.5, horizonMinutes = 60,
                     quantizedState = false)
      .writeStream.format("memory").queryName("srp_dim_drift_exact")
      .outputMode("append").start()
    try {
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        input.addData(Seq((1L, ts(0), List.fill(8)(0f)),
                          (2L, ts(1), List.fill(16)(0f))))
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(messages(err).exists(_.contains("vector lengths differ")),
        messages(err).mkString(" | "))
    } finally q.stop()
  }

  test("dsirScoreStream: stateless streaming scores equal the batch " +
       "operator's, and unseen grams score via the smoothed prior") {
    import graft.operators.CorpusCuration
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "le renard brun rapide saute par dessus le chien", "fr"),
      (3L, "the dog sleeps while the quick fox runs", "en"),
      (4L, "der schnelle braune fuchs springt hoch", "de"),
      (5L, "quick quick brown brown fox fox dog dog", "en"),
      (6L, "short", "en")) // < 2 tokens: unscoreable in both tiers
    val docs = corpus.toDF("doc_id", "text", "lang")
    val B = 256
    val weights = CorpusCuration.dsirWeights(
      docs, isTarget = col("lang") === "en", buckets = B)
    assert(weights.count() == B) // dense by contract
    val batch = CorpusCuration.dsirScores(
        docs, isTarget = col("lang") === "en", buckets = B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, Timestamp, String)]
    val q = CorpusStreams.dsirScoreStream(
        input.toDF().toDF("doc_id", "ts", "text"), weights, buckets = B)
      .select(col("doc_id"), col("n_grams"), col("dsir_score"))
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      input.addData(corpus.zipWithIndex.map { case ((id, txt, _), i) =>
        (id, ts(i), txt) })
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch && batch.size == 5, s"stream $streamed vs batch $batch")

      // a doc of grams the training corpus never saw still scores — every
      // bucket carries the smoothed prior, so the score is deterministic
      // and non-null rather than a dropped-gram undercount
      input.addData(Seq((7L, ts(60), "zz yy xx ww vv uu")))
      q.processAllAvailable()
      val novel = spark.table("dsir_stream").collect()
        .filter(_.getLong(0) == 7L)
      assert(novel.length == 1 && novel.head.getLong(1) == 5 &&
             !novel.head.isNullAt(2))
    } finally q.stop()
  }

  test("dsirScoreStream refuses a sparse weight table") {
    import graft.operators.CorpusCuration
    import graft.streaming.CorpusStreams
    val docs = Seq((1L, "a b c", "en")).toDF("doc_id", "text", "lang")
    val dense = CorpusCuration.dsirWeights(
      docs, isTarget = col("lang") === "en", buckets = 64)
    val sparse = dense.limit(10)
    val e = intercept[IllegalArgumentException] {
      CorpusStreams.dsirScoreStream(docs, sparse, buckets = 64)
    }
    assert(e.getMessage.contains("DENSE"))
    val drifted = intercept[IllegalArgumentException] {
      CorpusStreams.dsirScoreStream(docs, dense, buckets = 32)
    }
    assert(drifted.getMessage.contains("outside"))
  }

  test("winnowFingerprints on a stream: one stateless projection — " +
       "fingerprints equal the batch operator row-for-row, zero state") {
    import graft.operators.GraftText
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, size => asize, md5, array_join, transform => atransform}
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").limit(50)
    def shaped(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), GraftText.whitespaceTokens(col("text")).as("tk"))
      .filter(asize(col("tk")) >= 3)
      .select(col("doc_id"),
        md5(array_join(atransform(
          GraftText.winnowFingerprints(col("tk")),
          x => x.cast("string")), ",")).as("fp_md5"))
    val batch = shaped(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = shaped(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("winnow_stream")
      .outputMode("append").start()
    try {
      input.addData(rows); q.processAllAvailable()
      val streamed = spark.table("winnow_stream").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch)
      val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(so.map(_.numRowsTotal).sum == 0,
        "winnowing must carry zero streaming state")
    } finally q.stop()
  }
}
