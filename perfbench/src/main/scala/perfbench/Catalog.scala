package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.implicits._

/** Query-catalog rows: the relational rows, the dedup and graph rows and
  * the benchmark-built ops below. Each op builds
  * its frame and writes the result to parquet, so the DuckDB oracle can
  * check every row's output after the run. */
final class Catalog(spark: SparkSession, cfg: Config) extends Workload {
  private val rows = Catalog.Relational ++ Catalog.GraphDedup
  private val outDir = s"${cfg.workDir}/out"
  private val ioDir = s"${cfg.workDir}/io"
  private val draw = Stats.rng(cfg.seed, "sample")
  // sampleExt parameters are drawn once per run
  private val sampleFraction = 0.05 + 0.45 * draw.nextDouble()
  private val sampleSeed = 1L + draw.nextInt(Int.MaxValue - 1)
  private var lineitemRows = 0L

  private def table(name: String): DataFrame =
    spark.read.parquet(s"${cfg.dataDir}/$name.parquet")

  private def sink(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/$name")

  private def catalogOp(name: String): Op = {
    val build = SparkEntry.queries(name)
    new Op(name, _ => sink(name, build(spark, cfg.dataDir)))
  }

  def setup(s: SparkSession): Unit =
    lineitemRows = table("lineitem").count()

  // A fixed order: the first run of shared code (JIT, generated code, the
  // memoized LSH pairs that dedup_components shares with
  // dedup_minhash_lsh) lands on whichever op comes first, so a seed-drawn
  // order moved wall_s across seeds by as much as the seed-drawn data.
  private lazy val ops = rows.map(catalogOp) ++ extraOps

  def pass(pass: Int): Seq[Op] = ops

  override def oracleRows: Seq[String] = ops.map(_.name).filter(SparkEntry.oracleSql.contains)

  /** The catalog rows `src_bucketed_join` and `src_arrow_roundtrip` write
    * under a fixed system temp path; these twins make the same calls with
    * their files under the run's work directory, and share the rows'
    * oracles. */
  private val extraOps: Seq[Op] = Seq(
    new Op("src_bucketed_join", _ => {
      table("lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$ioDir/lineitem_b").mode("overwrite").saveAsTable("g_lineitem_b")
      table("orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$ioDir/orders_b").mode("overwrite").saveAsTable("g_orders_b")
      sink("src_bucketed_join", spark.table("g_lineitem_b").hint("MERGE")
        .join(spark.table("g_orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_quantity")), 2).as("sum_qty"),
             min(col("o_totalprice")).as("min_total")))
    }),
    new Op("src_arrow_roundtrip", _ => {
      val out = s"$ioDir/part_arrow"
      table("part").select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
        .write.mode("overwrite").format("graft.sources.GraftArrowSource")
        .option("batchSize", "512").save(out)
      sink("src_arrow_roundtrip",
        spark.read.format("graft.sources.GraftArrowSource").load(out)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
               sum(col("p_size").cast("long")).as("sum_size"),
               round(sum(col("p_retailprice")), 2).as("sum_price"),
               min("p_name").as("first_name")))
    }),
    new Op("sample_ext", _ =>
      sink("sample_ext", table("lineitem").sampleExt(sampleFraction, Some(sampleSeed))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n")))))

  /** Sample rows: the count must lie within a Chernoff bound (failure
    * probability 1e-9) of fraction × rows, and a repeat of the same
    * sample, run outside the timed region, must return the same count. */
  override def afterOp(op: Op): Boolean = {
    val (fraction, seed) = op.name match {
      case "sample_ext" => (sampleFraction, sampleSeed)
      case "sample_bernoulli" => (0.3, 42L) // the catalog row's parameters
      case _ => return true
    }
    val n = spark.read.parquet(s"$outDir/${op.name}").agg(sum("n")).head().getLong(0)
    val repeat = table("lineitem").sampleExt(fraction, Some(seed)).count()
    val mean = fraction * lineitemRows
    n == repeat && math.abs(n - mean) <= math.sqrt(3.0 * mean * math.log(2.0 / 1e-9))
  }

  override def afterPass(pass: Int): Unit =
    Seq("g_lineitem_b", "g_orders_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}

object Catalog {
  /** Planning-, scan- and shuffle-bound rows that graft touches only
    * through plans, sources and a few expressions. */
  val Relational = Seq(
    "q1_agg", "q3_join_agg", "q5_multi_join", "q_window_rank", "q_sort_global",
    "q_percentile_exact", "q_filter_topk", "q_distinct_agg", "events_sessionize",
    "events_range_join", "sample_bernoulli")
  /** Multi-second rows bound by shuffle and iteration. */
  val GraphDedup = Seq(
    "dedup_minhash_lsh", "dedup_components", "dedup_editdist_pairs",
    "graph_pagerank", "graph_hits", "graph_lpa_communities")
  /** Fixed iteration budgets of the catalog's graph rows. */
  val Iterations: Map[String, Int] =
    Map("graph_pagerank" -> 3, "graph_hits" -> 2, "graph_lpa_communities" -> 4)
}
