package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftJobProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{GraftPq, GraftSimilarity, GraftText, HybridRetrieval,
  ImpactObjectStore, IvfObjectStore, TextRank}

/** The executed shape of the stored serves: every query-bounded side —
  * the query minibatch, the BM25 term set with its df and corpus stats,
  * the PQ codebook and norm LUT, the literal-path survivor pairs — rides
  * in the plan as a driver value, so no plan a serve runs holds a hashed
  * broadcast keyed on a string column (each pins a driver page until the
  * ContextCleaner runs) or a persisted frame, and each serve's job count
  * is pinned. */
class ServeShapeSpec extends GraftFunSuite with ManifestStoreFixture {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes))
  }

  /** The block's result, its job count and the executed plans of every
    * query it ran. */
  private def traced[T](body: => T): (T, Int, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (out, jobs) = GraftJobProbe.jobs(spark.sparkContext)(body)
      (out, jobs.size, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Violations of the shape in `qes`: string-keyed hashed broadcasts
    * and persisted frames. */
  private def violations(qes: Seq[QueryExecution]): Seq[String] =
    qes.flatMap { qe =>
      val physical = nodes(qe.executedPlan).collect {
        case b: BroadcastExchangeExec if (b.mode match {
            case HashedRelationBroadcastMode(keys, _) =>
              keys.exists(_.dataType.isInstanceOf[StringType])
            case _ => false
          }) => s"string-keyed hashed broadcast: ${b.mode}"
        case s: InMemoryTableScanExec => s"persisted frame: ${s.relation}"
      }
      val logical = qe.optimizedPlan.collect {
        case r: InMemoryRelation => s"persisted frame: ${r.cacheBuilder.tableName}"
      }
      physical ++ logical
    }

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")

  /** A serving node's minibatch: 8 local rows (q_id, q_terms, qv), each
    * a live vector with its document's first two tokens. */
  private lazy val queries: DataFrame = {
    val rows = docs.filter(col("doc_id") < 8)
      .join(vecs, col("doc_id") === col("vec_id"))
      .select(col("doc_id").cast("long"),
              slice(GraftText.whitespaceTokens(col("text")), 1, 2),
              col("v"))
      .collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("q_id", LongType), StructField("q_terms", ArrayType(StringType)),
      StructField("qv", ArrayType(DoubleType)))))
  }

  private lazy val store: String = {
    val dir = tempStore("graft_serve_shape")
    IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(vecs), dir,
      pq = Some(GraftPq.trainPq(vecs, m = 4, ksub = 8, iters = 2)))
    dir
  }

  private def check(name: String, pinnedJobs: Int)(serve: => DataFrame)
      : Unit = {
    val cb = GraftPq.readPqCodebook(spark, store) // memoized after the first
    assert(cb.m == 4)
    val (rows, jobs, qes) = traced(serve.collect())
    assert(rows.nonEmpty, s"$name served no rows")
    val bad = violations(qes)
    info(s"$name: $jobs jobs, ${qes.size} queries")
    assert(bad.isEmpty, s"$name:\n${bad.mkString("\n")}")
    assert(jobs == pinnedJobs,
      s"$name launched $jobs jobs, pinned at $pinnedJobs")
  }

  test("hybridTopKWithPq: no string-keyed hashed broadcast, no persisted " +
       "frame, job count pinned") {
    check("hybridTopKWithPq", pinnedJobs = 18) {
      HybridRetrieval.hybridTopKWithPq(IvfObjectStore.read(spark, store),
        GraftPq.readPqCodebook(spark, store), docs, queries, k = 5,
        kCand = 10, nprobe = 2)
    }
  }

  test("ivfPqTopKWithCw: no string-keyed hashed broadcast, no persisted " +
       "frame, job count pinned") {
    check("ivfPqTopKWithCw", pinnedJobs = 7) {
      GraftPq.ivfPqTopKWithCw(IvfObjectStore.read(spark, store),
        GraftPq.readPqCodebook(spark, store), queries, k = 5, nprobe = 2)
    }
  }

  private lazy val impacts: String = {
    val dir = tempStore("graft_serve_shape_impacts")
    ImpactObjectStore.rebuild(docs, dir)
    dir
  }

  test("hybridTopKWith: no string-keyed hashed broadcast, no persisted " +
       "frame, job count pinned") {
    check("hybridTopKWith", pinnedJobs = 13) {
      HybridRetrieval.hybridTopKWith(IvfObjectStore.read(spark, store), docs,
        queries, k = 5, kCand = 10, nprobe = 2)
    }
  }

  test("hybridTopKWithQ8: no string-keyed hashed broadcast, no persisted " +
       "frame, job count pinned") {
    check("hybridTopKWithQ8", pinnedJobs = 15) {
      HybridRetrieval.hybridTopKWithQ8(IvfObjectStore.read(spark, store),
        docs, queries, k = 5, kCand = 10, nprobe = 2)
    }
  }

  test("hybridTopKWithMmr: no string-keyed hashed broadcast, no persisted " +
       "frame, job count pinned") {
    check("hybridTopKWithMmr", pinnedJobs = 15) {
      HybridRetrieval.hybridTopKWithMmr(IvfObjectStore.read(spark, store),
        docs, queries, k = 5, kCand = 10, nprobe = 2)
    }
  }

  test("hybridTopKWithImpacts: no string-keyed hashed broadcast, no " +
       "persisted frame, job count pinned") {
    val imp = ImpactObjectStore.read(spark, impacts)
    check("hybridTopKWithImpacts", pinnedJobs = 10) {
      HybridRetrieval.hybridTopKWithImpacts(IvfObjectStore.read(spark, store),
        imp, queries, k = 5, kCand = 10, nprobe = 2)
    }
  }

  test("serveProduction: no string-keyed hashed broadcast, no persisted " +
       "frame, job count pinned") {
    val imp = ImpactObjectStore.read(spark, impacts)
    check("serveProduction", pinnedJobs = 17) {
      HybridRetrieval.serveProduction(IvfObjectStore.read(spark, store), imp,
        queries, essential = 1, k = 5, kCand = 10, nprobe = 2)
    }
  }

  test("bm25TopK: no string-keyed hashed broadcast, no persisted frame, " +
       "job count pinned") {
    check("bm25TopK", pinnedJobs = 5) {
      TextRank.bm25TopK(docs, Seq("the", "data", "spark"), k = 5)
    }
  }
}
