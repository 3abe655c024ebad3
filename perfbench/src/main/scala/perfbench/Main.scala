package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.GraftSession

/** One timed operation. A serve op calls `split()` where building its
  * result frame ends and executing it begins. */
final class Op(val name: String, val body: Op.Ctx => Unit)

object Op {
  final class Ctx {
    private[perfbench] var splitAt = -1L
    def split(): Unit = splitAt = System.nanoTime()
  }
}

/** What a workload contributes: set-up, the op sequence of one pass, and
  * checks run outside the timed region. */
trait Workload {
  /** Build whatever must exist before timing starts (stores, frames). */
  def setup(spark: SparkSession): Unit
  /** The ops of pass `pass`, in a fixed order. Every pass
    * runs the same ops on the same inputs. */
  def pass(pass: Int): Seq[Op]
  /** Called after each op, outside the timed region: record what the op
    * produced for the checks. Returns false when the op's output is wrong. */
  def afterOp(op: Op): Boolean = true
  /** Called after each pass, outside the timed region. */
  def afterPass(pass: Int): Unit = ()
  /** Whether the current pass is the profiled one (set by the harness). */
  var profiled = false
  /** Checks that need the whole timed phase. Returns op names with the
    * number of their ops that failed. */
  def finish(): Map[String, Int] = Map.empty
  /** Workload-specific per-layer figures (only reported when traced). */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Catalog rows whose last output the DuckDB oracle checks. */
  def oracleRows: Seq[String] = Nil
}

final case class OpRecord(index: Int, name: String, pass: Int, startMs: Long, endMs: Long,
                          wallS: Double, constructS: Double, ok: Boolean,
                          cacheEntries: Int, gcMs: Long)

final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, dataDir: String, workDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
                     kv("trace") == "1", kv("data"), kv("work"))
    val result = new Harness(cfg).run()
    Files.write(Paths.get(cfg.workDir, "result.json"),
                Serialization.write(result)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }
}

final class Harness(cfg: Config) {
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private var sessionStart = 0.0
  private var warmUp = 0.0
  private var spark: SparkSession = _

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[${cfg.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.local.dir", s"${cfg.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.ensureExtensions(s)
    s
  }

  private def makeWorkload(s: SparkSession): Workload = cfg.workload match {
    case "catalog" => new Catalog(s, cfg)
    case "stores" => new Stores(s, cfg)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Session with graft extensions, warm-up, workload state. */
  private def setUp(): Workload = {
    val t0 = now()
    spark = newSession()
    sessionStart = secs(t0)
    val t1 = now()
    // warm-up: scan + shuffle + codegen once, so JIT and first-job costs
    // do not land on whichever op runs first
    spark.read.parquet(Files.list(Paths.get(cfg.dataDir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted.head)
      .groupBy().count().collect()
    spark.range(0, 200000, 1, cfg.cores).selectExpr("id % 97 AS k")
      .groupBy("k").count().collect()
    warmUp = secs(t1)
    val w = makeWorkload(spark)
    w.setup(spark)
    System.err.println(f"[perfbench] set-up: session $sessionStart%.2f s, warm-up $warmUp%.2f s, " +
      f"workload ${secs(t1) - warmUp}%.2f s")
    w
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def run(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = setUp()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // Whole passes until --seconds of op time is reached, at least one.
    // A traced run profiles pass 0.
    val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val memory = ManagementFactory.getMemoryMXBean
    val heapAfterGc = mutable.ArrayBuffer.empty[Double]
    val liveAfterGc = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var index = 0
    while (pass == 0 || passWalls.sum < cfg.seconds) {
      workload.profiled = cfg.trace && pass == 0
      var passWall = 0.0
      for (op <- workload.pass(pass)) {
        val ctx = new Op.Ctx
        val gc0 = gcMs()
        val startMs = System.currentTimeMillis()
        val t0 = now()
        val ok = try {
          tracer.fold(op.body(ctx))(_.around(index, op.name)(op.body(ctx)))
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] op ${op.name} failed: $e")
            false
        }
        val wall = secs(t0)
        val endMs = System.currentTimeMillis()
        val gc = gcMs() - gc0
        // outside the timed region: the op's checks, then hygiene as
        // graft.Bench does it (GC + cache clear). The persisted frames the
        // op left behind are counted, and the memory still in use after a
        // full GC (those frames included) is read, before the clear.
        val checked = ok && workload.afterOp(op)
        val entries = spark.sparkContext.getPersistentRDDs.size
        System.gc()
        val heap = mb(memory.getHeapMemoryUsage.getUsed)
        heapAfterGc += heap
        liveAfterGc += heap + mb(memory.getNonHeapMemoryUsage.getUsed)
        spark.catalog.clearCache()
        val construct = if (ctx.splitAt > 0) (ctx.splitAt - t0) / 1e9 else Double.NaN
        records += OpRecord(index, op.name, pass, startMs, endMs, wall, construct, checked,
                            entries, gc)
        passWall += wall
        index += 1
      }
      workload.afterPass(pass)
      passWalls += passWall
      pass += 1
    }
    tracer.foreach(_.detach())
    val late = workload.finish()
    spark.stop()

    val failedByName = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    records.filterNot(_.ok).foreach(r => failedByName(r.name) += 1)
    late.foreach { case (n, c) => failedByName(n) += c }
    val attempted = records.size
    val failed = failedByName.values.sum.min(attempted)

    val endToEnd = Map(
      "setup_jvm_s" -> setupS,
      "wall_s" -> Stats.median(passWalls.toSeq),
      "op_p50_s" -> Stats.hdQuantile(records.map(_.wallS).toSeq, 0.5),
      "peak_live_mb" -> liveAfterGc.max)

    if (cfg.trace) {
      layerFigures(tracer.get.collect(), heapAfterGc.toSeq)
      layer ++= workload.layerMetrics
    }
    val byName = records.groupBy(_.name)
    Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_by_op" -> failedByName.toMap,
      "ops_by_name" -> byName.map { case (n, rs) => n -> rs.size },
      "op_median_s" -> byName.map { case (n, rs) => n -> Stats.median(rs.map(_.wallS).toSeq) },
      "oracle_sql" -> workload.oracleRows.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap,
      "end_to_end" -> endToEnd,
      "pass_walls_s" -> passWalls.toSeq,
      "per_layer" -> layer.toMap)
  }

  /** Per-layer figures of the profiled pass. Totals are for the pass;
    * plan times and jobs are per op; store, serve, graph and dedup times
    * are medians over the ops of that kind. */
  private def layerFigures(stats: Map[Int, OpStats], heapAfterGc: Seq[Double]): Unit = {
    val profile = records.filter(_.pass == 0)
    val nOps = profile.size.max(1).toDouble
    val st = profile.map(r => stats.getOrElse(r.index, new OpStats))
    def total(f: OpStats => Double): Double = st.map(f).sum
    val opWall = profile.map(_.wallS).sum
    layer("session.start_s") = sessionStart
    layer("session.warmup_s") = warmUp
    val plansS = st.map(s => s.analysisMs + s.optimizationMs + s.planningMs).sum / 1e3
    layer("plans.analysis_s") = st.map(_.analysisMs).sum / 1e3 / nOps
    layer("plans.optimization_s") = st.map(_.optimizationMs).sum / 1e3 / nOps
    layer("plans.planning_s") = st.map(_.planningMs).sum / 1e3 / nOps
    layer("plans.share") = if (opWall > 0) plansS / opWall else 0.0
    layer("sched.jobs_per_op") = st.map(_.jobs).sum / nOps
    layer("sched.stages") = total(_.stages.toDouble)
    layer("sched.tasks") = total(_.tasks.toDouble)
    layer("sched.driver_gap_s") = profile.zip(st).map { case (r, s) =>
      ((r.endMs - r.startMs) - Tracer.covered(s.jobSpans.toSeq, r.startMs, r.endMs)) / 1e3
    }.sum
    layer("exec.run_s") = total(_.runMs / 1e3)
    layer("exec.cpu_s") = total(_.cpuNs / 1e9)
    layer("exec.gc_s") = total(_.gcMs / 1e3)
    layer("exec.util") = if (opWall > 0) layer("exec.run_s") / (opWall * cfg.cores) else 0.0
    layer("shuffle.write_bytes") = total(_.shuffleWrite.toDouble)
    layer("shuffle.read_bytes") = total(_.shuffleRead.toDouble)
    layer("shuffle.fetch_wait_s") = total(_.fetchWaitMs / 1e3)
    layer("spill.bytes") = total(_.spillBytes.toDouble)
    layer("scan.input_bytes") = total(_.inputBytes.toDouble)
    layer("scan.rows_per_s") =
      if (opWall > 0) total(_.inputRecords.toDouble) / opWall else 0.0
    layer("cache.entries_after_op") = profile.map(_.cacheEntries).sum / nOps
    layer("jvm.gc_s") = profile.map(_.gcMs).sum / 1e3
    layer("jvm.heap_after_gc_mb") = if (heapAfterGc.isEmpty) 0.0 else heapAfterGc.max
    val constructs = profile.map(_.constructS).filterNot(_.isNaN)
    layer("serve.construct_s") = Stats.median(constructs.toSeq)
    layer("serve.exec_s") = Stats.median(
      profile.filterNot(_.constructS.isNaN).map(r => r.wallS - r.constructS).toSeq)
    def medianOf(names: String*): Double =
      Stats.median(profile.filter(r => names.contains(r.name)).map(_.wallS).toSeq)
    for ((s, o) <- Stores.StoreOps) layer(s"store.$s.${o}_s") = medianOf(s"$s.$o")
    val commits = profile.zip(st).filter { case (r, _) =>
      Stores.Mutations.exists(m => r.name.endsWith("." + m))
    }
    layer("store.jobs_per_commit") =
      if (commits.isEmpty) 0.0 else commits.map(_._2.jobs).sum.toDouble / commits.size
    layer("graph.pagerank_s") = medianOf("graph_pagerank")
    layer("graph.hits_s") = medianOf("graph_hits")
    layer("graph.lpa_s") = medianOf("graph_lpa_communities")
    val graphOps = profile.zip(st).filter { case (r, _) => Catalog.Iterations.contains(r.name) }
    val iters = graphOps.map { case (r, _) => Catalog.Iterations(r.name) }.sum
    layer("graph.jobs_per_iter") = if (iters == 0) 0.0 else graphOps.map(_._2.jobs).sum.toDouble / iters
    layer("dedup.pairs_s") = medianOf("dedup_minhash_lsh")
    layer("dedup.editdist_s") = medianOf("dedup_editdist_pairs")
    layer("dedup.components_s") = medianOf("dedup_components")
    // the catalog's two row groups: relational rows are the control that
    // operator and store changes must leave unmoved
    val graphDedup = profile.filter(r => Catalog.GraphDedup.contains(r.name))
    layer("catalog.graph_dedup_s") = graphDedup.map(_.wallS).sum
    layer("catalog.relational_s") =
      if (cfg.workload == "catalog") opWall - layer("catalog.graph_dedup_s") else 0.0
    layer("ops.count") = profile.size.toDouble
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of an ascending sample (0 when empty). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Harrell-Davis estimate of quantile `q`: a Beta-weighted mean of all
    * order statistics. With a few dozen ops of mixed kinds a single order
    * statistic jumps between neighbouring ops from run to run; this
    * estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val sorted = xs.sorted
    val n = sorted.size
    if (n <= 1) return sorted.headOption.getOrElse(0.0)
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      q * (n + 1), (1 - q) * (n + 1))
    sorted.indices.map { i =>
      (beta.cumulativeProbability((i + 1).toDouble / n) -
        beta.cumulativeProbability(i.toDouble / n)) * sorted(i)
    }.sum
  }

  /** Seeded RNG for one purpose, so adding draws elsewhere never shifts it. */
  def rng(seed: Long, purpose: String): Random = new Random(seed * 1000003L ^ purpose.hashCode)
}
