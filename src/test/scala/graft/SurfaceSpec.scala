package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Remaining surface parity: sketch-aggregate error bounds, TABLESAMPLE SQL
  * reach (the built-in SQL twin of the graft sample operator), and
  * streaming deduplication with watermarked state.
  */
class SurfaceSpec extends GraftFunSuite {
  import spark.implicits._

  test("approx aggregates stay within sketch error bounds of exact values") {
    val approx = SparkEntry.queries("q_approx_agg")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = spark.read.parquet(s"$sf001/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("nd"),
           expr("percentile(l_extendedprice, 0.5)").as("med"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for ((flag, (nd, med)) <- exact) {
      val (and_, amed) = approx(flag)
      assert(math.abs(and_ - nd).toDouble / nd < 0.05,
        s"$flag approx distinct $and_ vs $nd")
      assert(math.abs(amed - med) / med < 0.02, s"$flag median $amed vs $med")
    }
  }

  test("catalog tables read with their footer schema and no inference " +
       "job: the schema equals spark.read.parquet's for all ten tables " +
       "(events under nanosAsLong too), and building a frame runs no job") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    def check(name: String): Unit = {
      val path = s"$sf0001/$name.parquet"
      val (df, jobs) = org.apache.spark.GraftJobProbe.jobs(
        spark.sparkContext)(graft.queries.GraftQuery.readParquet(spark, path))
      assert(jobs.isEmpty, s"$name: building the frame launched $jobs")
      assert(df.schema == spark.read.parquet(path).schema,
        s"$name: ${df.schema.treeString} vs " +
        spark.read.parquet(path).schema.treeString)
    }
    try {
      spark.conf.set(key, "false")
      tables.foreach(check)
      spark.conf.set(key, "true")
      check("events")
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("TABLESAMPLE: SQL reach for sampling (built-in twin of sampleExt)") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("graft_li_ts")
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft_li_ts TABLESAMPLE (30 PERCENT) REPEATABLE (42)")
      .as[Long].head()
    val total = spark.table("graft_li_ts").count()
    val sigma = math.sqrt(total * 0.3 * 0.7)
    assert(math.abs(n - total * 0.3) < 6 * sigma + 1, s"kept $n of $total")
  }

  test("streaming dropDuplicates dedups across micro-batches with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("doc_id")
    val q = df.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((1L, t0, "a"), (2L, t0, "b"), (1L, t0, "a-dup"))
      q.processAllAvailable()
      input.addData((2L, t0, "b-dup"), (3L, t0, "c"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("reference demo parquet reads with the documented all-types schema") {
    // Reads the reference's own 8-row demo file (examples/datafusion.rs:26)
    // where it exists; otherwise writes that file from its documented
    // layout (FIXTURES.md §1) with Spark's default Parquet writer. The
    // schema assertion is the documented Spark-type table, so it checks
    // the reference file too.
    val reference = new java.io.File("/root/reference/data/part_0.parquet")
    val generated =
      if (reference.exists()) None
      else Some(java.nio.file.Files.createTempDirectory("graft_demo").toFile)
    try {
      val path = generated.fold(reference.toString) { dir =>
        val out = new java.io.File(dir, "part_0.parquet").toString
        writeDemoParquet(out)
        out
      }
      val df = spark.read.parquet(path)
      assert(df.count() == 8)
      assert(df.columns.contains("timestamp_col"))
      val sampled = {
        import graft.implicits._
        df.sampleExt(1.0, Some(1L))
      }
      assert(sampled.count() == 8)
      import org.apache.spark.sql.types._
      val documented = Seq(
        "id" -> IntegerType, "bool_col" -> BooleanType,
        "tinyint_col" -> IntegerType, "smallint_col" -> IntegerType,
        "int_col" -> IntegerType, "bigint_col" -> LongType,
        "float_col" -> FloatType, "double_col" -> DoubleType,
        "date_string_col" -> BinaryType, "string_col" -> BinaryType,
        "timestamp_col" -> TimestampType)
      assert(df.schema.map(f => f.name -> f.dataType) == documented,
        df.schema.simpleString)
    } finally generated.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  /** The reference demo table of FIXTURES.md §1 as one Parquet file under
    * `dir`. `bool_col`, the 0/1 columns, `string_col` and `timestamp_col`
    * follow the documented row pattern; `bigint_col`, `float_col`,
    * `double_col` and `date_string_col`, which the document gives no
    * values for, are filler. */
  private def writeDemoParquet(dir: String): Unit = {
    val rows = (0 until 8).map { id =>
      val v = id % 2
      val ts = Timestamp.from(
        java.time.Instant.parse(s"2009-0${id / 2 + 1}-01T00:0${v}:00Z"))
      (id, v == 0, v, v, v, v * 10L, v * 1.1f, v * 10.1,
        s"0${id / 2 + 1}/01/09".getBytes("UTF-8"), v.toString.getBytes("UTF-8"), ts)
    }
    rows.toDF("id", "bool_col", "tinyint_col", "smallint_col", "int_col",
        "bigint_col", "float_col", "double_col", "date_string_col",
        "string_col", "timestamp_col")
      .coalesce(1).write.parquet(dir)
  }

  test("ANALYZE TABLE statistics feed the catalog (CBO vocabulary)") {
    spark.sql("DROP TABLE IF EXISTS graft_nation_stats")
    val d = new java.io.File("/tmp/graft_wh/graft_nation_stats")
    if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    spark.read.parquet(s"$sf0001/nation.parquet")
      .write.mode("overwrite").saveAsTable("graft_nation_stats")
    spark.sql("ANALYZE TABLE graft_nation_stats COMPUTE STATISTICS FOR COLUMNS n_nationkey")
    val desc = spark.sql(
      "DESCRIBE EXTENDED graft_nation_stats n_nationkey").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("distinct_count") == "25", desc.toString)
    assert(desc("max") == "24")
  }

  test("stream-stream windowed join (clicks x purchases within the hour)") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:05:00")
    val t1 = Timestamp.valueOf("2024-01-01 10:20:00")
    val tFar = Timestamp.valueOf("2024-01-01 14:00:00")
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("user_id", "click_ts").withWatermark("click_ts", "1 hour")
    val b = buys.toDF().toDF("buy_user", "buy_ts").withWatermark("buy_ts", "1 hour")
    val joined = c.join(b,
      expr("""user_id = buy_user AND
              buy_ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"""))
    val q = joined.writeStream.format("memory").queryName("ssj_stream")
      .outputMode("append").start()
    try {
      clicks.addData((1L, t0), (2L, t0))
      buys.addData((1L, t1), (3L, t1))
      q.processAllAvailable()
      clicks.addData((9L, tFar)); buys.addData((9L, tFar))
      q.processAllAvailable()
      val got = spark.table("ssj_stream").select("user_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 9L), s"got $got")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups late-arriving replays") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 10:20:00")
    val input = MemoryStream[(Long, Timestamp)]
    val df = input.toDF().toDF("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
    val q = df.writeStream.format("memory").queryName("ddw_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, t0), (2L, t0))
      q.processAllAvailable()
      input.addData((1L, t1), (3L, t1)) // replay of 1 within the watermark
      q.processAllAvailable()
      val ids = spark.table("ddw_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("normalizeTs yields identical instants for every testdata generation " +
       "of the events ts column") {
    import graft.queries.GraftQuery.normalizeTs
    import org.apache.spark.sql.types._
    // the same instant expressed in each physical generation
    val us = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    val asNs = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(us * 1000L)),
      StructType(Seq(StructField("ts", LongType))))          // TIMESTAMP(NANOS) era
    val asNtz = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, ((us % 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))),
      StructType(Seq(StructField("ts", TimestampNTZType)))) // MICROS, naive era
    val asTs = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L)))),
      StructType(Seq(StructField("ts", TimestampType))))    // already-normalized
    val got = Seq(asNs, asNtz, asTs).map { df =>
      val out = normalizeTs(df)
      assert(out.schema("ts").dataType == TimestampType)
      out.select(unix_micros(col("ts"))).as[Long].head()
    }
    assert(got == Seq(us, us, us), s"got $got")
    // the NTZ reinterpretation is session-timezone-independent: a user
    // session not pinned to UTC must still land on the same instant —
    // including instants whose New-York wall time falls in the DST
    // fall-back fold (2024-11-03 01:30 EDT and 01:30 EST both exist; a
    // conversion that round-trips through local wall time collapses them)
    val foldUs = Seq(
      1730611800000000L, // 2024-11-03T05:30:00Z = 01:30:00 EDT (first pass)
      1730615400000000L) // 2024-11-03T06:30:00Z = 01:30:00 EST (second pass)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val nyc = normalizeTs(asNtz).select(unix_micros(col("ts"))).as[Long].head()
      assert(nyc == us, s"NTZ under non-UTC session tz drifted: $nyc")
      for (f <- foldUs) {
        val ntz = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(
            java.time.LocalDateTime.ofEpochSecond(
              f / 1000000L, 0, java.time.ZoneOffset.UTC))),
          StructType(Seq(StructField("ts", TimestampNTZType))))
        val got = normalizeTs(ntz).select(unix_micros(col("ts"))).as[Long].head()
        assert(got == f, s"fold-hour instant drifted: $got != $f")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // unsupported types fail loudly, never silently mis-convert
    val asStr = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("2023-11-14")),
      StructType(Seq(StructField("ts", StringType))))
    intercept[IllegalArgumentException](normalizeTs(asStr))
    // a long column holding epoch-MICROS (a driver unit drift) must raise,
    // not silently divide by 1000 into year-2024/1000 nonsense
    val asUsLong = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(us)), // µs magnitude ~1.7e15
      StructType(Seq(StructField("ts", LongType))))
    val eUnit = intercept[Exception] {
      normalizeTs(asUsLong).select(unix_micros(col("ts"))).as[Long].head()
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(msgs(eUnit).exists(_.contains("unit drift")), msgs(eUnit).mkString(" | "))
    // null ts rows pass through as null, not as a raise
    val asNullNs = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null)),
      StructType(Seq(StructField("ts", LongType))))
    assert(normalizeTs(asNullNs).select(col("ts")).head().isNullAt(0))
  }
}
