package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of the engine's surface: a DataFrame builder over the
  * driver testdata plus (when SQL-expressible) a DuckDB oracle. Column names
  * must match between the two — the driver's compare sorts columns by name
  * before hashing.
  */
final case class GraftQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object GraftQuery {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema is read on the driver from the footer of the file Spark's own
    * inference reads — the first data file of the path's listing in path
    * order (`_`- and `.`-prefixed names are not data) — under the
    * session's parquet conversion settings, and passed to
    * `spark.read.schema`. */
  private[graft] def readParquet(spark: SparkSession,
                                 path: String): DataFrame = {
    import org.apache.hadoop.fs.FileStatus
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def data(f: FileStatus): Boolean = {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(data).flatMap(leaves)
    val first =
      try leaves(fs.getFileStatus(p)).minByOption(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => None } // Spark's error
    first.fold(spark.read.parquet(path))(f => spark.read.schema(
      org.apache.spark.sql.GraftSqlBridge.parquetFooterSchema(spark, Seq(f)))
      .parquet(path))
  }

  private def storeFs(s: SparkSession, out: String) =
    new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Where a row keeps the at-rest store named `sub`:
    * `/tmp/graft_io/<sf dir name>/<sub>`. */
  private def storePath(dir: String, sub: String): String =
    s"/tmp/graft_io/${new java.io.File(dir).getName}/$sub"

  /** A store REUSED across runs: `build` writes it only while `sub` has
    * no manifest, so the first run pays the build and every later run —
    * and every other row naming the same `sub` — serves the amortized
    * read. Store contents are deterministic in (corpus, code), so reuse
    * is sound and shared oracles stay verbatim. Returns the store path. */
  private[graft] def reusedStore(s: SparkSession, dir: String, sub: String,
                                 store: graft.operators.ManifestStore)(
      build: String => Unit): String = {
    val out = storePath(dir, sub)
    if (store.currentManifest(storeFs(s, out), out).isEmpty) build(out)
    out
  }

  /** A store REWRITTEN on every run: whatever `sub` holds is deleted,
    * then `build` writes it. Returns the store path. */
  private[graft] def freshStore(s: SparkSession, dir: String, sub: String)(
      build: String => Unit): String = {
    val out = storePath(dir, sub)
    storeFs(s, out).delete(new org.apache.hadoop.fs.Path(out), true)
    build(out)
    out
  }

  /** Normalize the `events.ts` column to a session-local µs TIMESTAMP
    * regardless of which generation of the driver testdata is on disk:
    *
    *   - parquet TIMESTAMP(NANOS) read as long ns (via
    *     `spark.sql.legacy.parquet.nanosAsLong`): integer-divide to µs —
    *     ns values ~1.7e18 overflow double precision, so no float path;
    *     gated by a plausibility check (value ≥ 1971 in ns) so a driver
    *     unit change to micros/millis-as-long raises instead of
    *     mis-scaling 1000×;
    *   - parquet TIMESTAMP(MICROS) without UTC adjustment (reads as
    *     TIMESTAMP_NTZ): reinterpret the naive value as a UTC instant via
    *     pure calendar arithmetic — `timestampdiff(MICROSECOND, ntz-epoch,
    *     ts)` is the naive value's exact as-if-UTC epoch offset, computed
    *     with NO timezone rules, so the result is the same instant under
    *     ANY session timezone (a bare cast shifts instants in non-UTC
    *     sessions, and even a convert_timezone round-trip through local
    *     wall time mis-resolves the DST fall-back fold hour), and agrees
    *     with DuckDB's `epoch_us` on the same naive timestamp;
    *   - already TIMESTAMP: pass through.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        // the long encoding is epoch-NANOseconds by contract; a driver-side
        // unit change (micros/millis-as-long) would silently mis-scale every
        // window 1000×+. Gate: epoch-ns for any instant ≥ 1971-01-01 is
        // ≥ 3.15e16, while epoch-MICROS stays below that until year ~2969
        // (and millis ~1e6× later) — so a unit drift fails loudly per-row
        // instead of shifting the data, matching the unsupported-type branch.
        val nsLo = 31536000000000000L // 1971-01-01T00:00:00Z in nanoseconds
        df.withColumn(tsCol, expr(
          s"""CASE WHEN $tsCol IS NULL THEN CAST(NULL AS TIMESTAMP)
             |WHEN $tsCol >= ${nsLo}L THEN timestamp_micros($tsCol div 1000)
             |ELSE raise_error(concat('events.$tsCol: long value ',
             |  CAST($tsCol AS STRING),
             |  ' is too small to be epoch-nanoseconds — unit drift',
             |  ' (micros/millis stored as long)?'))
             |END""".stripMargin))
      case TimestampNTZType =>
        df.withColumn(tsCol, expr(
          s"timestamp_micros(timestampdiff(MICROSECOND, " +
          s"TIMESTAMP_NTZ '1970-01-01 00:00:00', $tsCol))"))
      case TimestampType => df
      case other =>
        throw new IllegalArgumentException(
          s"events.$tsCol: unsupported type $other — expected long ns, " +
          "TIMESTAMP_NTZ µs, or TIMESTAMP")
    }
}

trait QueryModule {
  def all: Seq[GraftQuery]

  protected def t(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftQuery.readParquet(spark, s"$dir/$name.parquet")

  /** See [[graft.operators.ScaleHints.gated]] — size-gated broadcast vs
    * SHUFFLE_HASH for attach joins.
    */
  protected def gated(side: DataFrame): DataFrame =
    graft.operators.ScaleHints.gated(side)

  /** See [[graft.operators.ScaleHints.gatedExact]]. */
  protected def gatedExact(side: DataFrame, exactBytes: Long): DataFrame =
    graft.operators.ScaleHints.gatedExact(side, exactBytes)

  /** See [[graft.operators.ScaleHints.spread]] — parallelism floor ahead of
    * heavy per-row map stages.
    */
  protected def spread(df: DataFrame): DataFrame =
    graft.operators.ScaleHints.spread(df)

  /** The `events` table's `ts` physical type has varied across testdata
    * generations (TIMESTAMP(NANOS), naive TIMESTAMP(MICROS)); normalize to a
    * µs TIMESTAMP either way. See [[GraftQuery.normalizeTs]].
    */
  protected def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    GraftQuery.normalizeTs(
      GraftQuery.readParquet(spark, s"$dir/events.parquet"))
  }
}
