package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{GraftDedup, GraftPq, GraftSimilarity, HybridRetrieval, ImpactIndex,
  ImpactObjectStore, IvfObjectStore, KeepSetStore}

/** The three manifest stores through one lifecycle per pass: create each
  * store from a seed-drawn base slice (the IVF store carries PQ code
  * words), append / increment a seed-drawn batch, delete a seed-drawn id
  * set, compact, serve seed-drawn query batches from the live version
  * (PQ-ADC, hybrid BM25 ⊕ PQ, float IVF, pruned BM25), time-travel to v1,
  * read the live version and vacuum. Every mutation, serve call and read
  * is one op.
  *
  * Checks, outside the timed region: every read equals base ∪ appends −
  * deletes as of its version (keep-set labels against a union-find
  * reference); ANN results are scored for recall@10 against an exact
  * top-10 from plain Spark; pruned BM25 equals the unpruned stored scan;
  * a fused hybrid list holds k distinct ids per query. */
final class Stores(spark: SparkSession, cfg: Config) extends Workload {
  import Stores._
  import spark.implicits._

  private val root = s"${cfg.workDir}/stores/run-${System.nanoTime()}"
  private var vecs: DataFrame = _
  private var docs: DataFrame = _
  private var vectors: Map[Long, Seq[Double]] = _
  private var texts: Map[Long, String] = _

  // state of the current pass
  private var dirs: Map[String, String] = Map.empty
  private var plan: Cycle = _
  private val expected = mutable.HashMap.empty[(String, Long), Set[Long]]
  private var last: Any = _
  private val annResults = mutable.ArrayBuffer.empty[(String, Map[Long, Seq[Long]])]
  private var bm25Result: Option[Seq[(Long, Long, Long)]] = None

  // across cycles
  private val lateFailures = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var listing: Map[String, Long] = Map.empty
  private val written = mutable.ArrayBuffer.empty[(Int, Long)]
  private var storedPerUserByte = 0.0

  def setup(s: SparkSession): Unit = {
    vecs = s.read.parquet(s"${cfg.dataDir}/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    docs = s.read.parquet(s"${cfg.dataDir}/documents.parquet").select("doc_id", "text")
    vectors = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  /** Ids, pairs and queries of the cycle, all drawn from the seed. */
  private final class Cycle {
    val r = Stats.rng(cfg.seed, "cycle")
    private val all = r.shuffle(vectors.keys.toVector.sorted)
    val base: Vector[Long] = all.take(all.size * 2 / 5)
    val batch: Vector[Long] = all.slice(base.size, base.size + all.size / 10)
    private def pairs(from: Vector[Long], to: Vector[Long], n: Int) =
      Vector.fill(n)((from(r.nextInt(from.size)), to(r.nextInt(to.size)))).filter(p => p._1 != p._2)
    val basePairs: Vector[(Long, Long)] = pairs(base, base, base.size / 20)
    val batchPairs: Vector[(Long, Long)] = pairs(batch, base ++ batch, batch.size / 10)
    val deletes: Set[Long] = r.shuffle(base ++ batch).take((base.size + batch.size) / 20).toSet
    val survivors: Vector[Long] = (base ++ batch).filterNot(deletes)
    /** The query batch: perturbed live vectors, each with two words of its
      * document. */
    val queries: Seq[(Long, Seq[String], Seq[Double])] = (0 until BatchSize).map { i =>
      val id = survivors(r.nextInt(survivors.size))
      val v = vectors(id).map(_ + r.nextGaussian() * 0.08)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, words(id), v.map(_ / norm))
    }
    /** Two words held by at least 3k of the impact store's live documents,
      * plus the short word `a` as a third term, so MaxScore (essential =
      * 2: the two terms of highest max impact) has a term to leave out.
      * bm25TopKPruned refuses, by contract, a query whose essential terms
      * match fewer than k documents. */
    val bm25Terms: Seq[String] = {
      val impactLive = base.filterNot(deletes)
      val df = impactLive.flatMap(id => texts(id).split("\\s+").distinct)
        .groupBy(identity).collect { case (w, hits) if w.length > 3 && hits.size >= 3 * K => w }
      r.shuffle(df.toSeq.sorted).take(2) :+ "a"
    }
    private def words(id: Long): Seq[String] =
      r.shuffle(texts(id).split("\\s+").filter(_.length > 3).distinct.toSeq).take(2)

    /** Keep-set labels after create (0) or after the increment (1). */
    def labels(step: Int): Map[Long, Long] = {
      val u = new UnionFind
      (if (step == 0) base else base ++ batch).foreach(u.add)
      (if (step == 0) basePairs else basePairs ++ batchPairs).foreach { case (a, b) => u.union(a, b) }
      u.labels
    }
  }

  private def idFrame(ids: Seq[Long], name: String): DataFrame = ids.toDF(name)
  private def vecsOf(ids: Seq[Long]): DataFrame =
    vecs.join(broadcast(idFrame(ids, "vec_id")), Seq("vec_id"), "left_semi")
  private def docsOf(ids: Seq[Long]): DataFrame =
    docs.join(broadcast(idFrame(ids, "doc_id")), Seq("doc_id"), "left_semi")
  private def queryFrame(c: Cycle): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(c.queries.map { case (i, t, v) => Row(i, t, v) }: _*), QuerySchema)

  private def topIds(rows: Array[Row], idCol: String): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long](idCol)).toSeq }

  private def bm25Rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
                           r.getAs[Long]("n_terms_hit"))).toSeq.sortBy(_._1)

  def pass(pass: Int): Seq[Op] = {
    if (plan == null) plan = new Cycle
    val c = plan
    dirs = StoreNames.map(s => s -> s"$root/cycle-$pass/$s").toMap
    expected.clear(); annResults.clear(); bm25Result = None
    // ops run in a fixed order (see Catalog); the seed varies the inputs
    val (ivf, imp, ks) = (dirs("ivf"), dirs("impact"), dirs("keepset"))
    val q = queryFrame(c)

    val creates = Seq(
      new Op("ivf.create", _ => IvfObjectStore.create(spark,
        GraftSimilarity.buildIvfIndex(vecsOf(c.base)), ivf,
        pq = Some(GraftPq.trainPq(vecsOf(c.base), m = 8, ksub = 16, iters = 2)))),
      new Op("impact.create", _ => ImpactObjectStore.rebuild(docsOf(c.base), imp)),
      new Op("keepset.create", _ => KeepSetStore.create(
        GraftDedup.keepSet(idFrame(c.base, "doc_id"), c.basePairs.toDF("a_id", "b_id")), ks)))
    // the impact store has no append and its compaction is a full rebuild
    // (the create path again), so it takes part in delete, reads and vacuum
    val adds = Seq(
      new Op("ivf.append", _ => IvfObjectStore.append(spark, ivf, vecsOf(c.batch))),
      new Op("keepset.increment", _ => KeepSetStore.increment(spark, ks,
        idFrame(c.batch, "doc_id"), c.batchPairs.toDF("a_id", "b_id"))))
    val dels = c.deletes.toSeq.sorted
    val removals = Seq(
      new Op("ivf.delete", _ => IvfObjectStore.delete(spark, ivf, idFrame(dels, "vec_id"))),
      new Op("impact.delete", _ => ImpactObjectStore.delete(spark, imp, idFrame(dels, "doc_id"))),
      new Op("keepset.delete", _ => KeepSetStore.delete(spark, ks, idFrame(dels, "doc_id"))))
    val compacts = Seq(
      new Op("ivf.compact", _ => IvfObjectStore.compact(spark, ivf, maxFilesPerCell = 1)),
      new Op("keepset.compact", _ => KeepSetStore.compact(spark, ks)))
    val serves = Seq(
      new Op("serve.pq_adc", ctx => {
        val df = GraftPq.ivfPqTopKWithCw(IvfObjectStore.read(spark, ivf),
          GraftPq.readPqCodebook(spark, ivf), q, k = K, nprobe = NProbe, rerankFactor = 4)
        ctx.split()
        last = topIds(df.collect(), "n_id")
      }),
      new Op("serve.hybrid_pq", ctx => {
        val df = HybridRetrieval.hybridTopKWithPq(IvfObjectStore.read(spark, ivf),
          GraftPq.readPqCodebook(spark, ivf), docsOf(c.survivors), q, k = K, kCand = 30,
          nprobe = NProbe)
        ctx.split()
        last = topIds(df.collect(), "doc_id")
      }),
      new Op("serve.ivf_float", ctx => {
        val df = GraftSimilarity.ivfTopKWith(IvfObjectStore.read(spark, ivf), q, k = K,
                                             nprobe = NProbe)
        ctx.split()
        last = topIds(df.collect(), "n_id")
      }),
      new Op("serve.bm25_maxscore", ctx => {
        val df = ImpactIndex.bm25TopKPruned(ImpactObjectStore.read(spark, imp), c.bm25Terms,
                                            k = K, essential = 2)
        ctx.split()
        last = bm25Rows(df)
      }))
    def reads(kind: String, version: Option[Long]) = Seq(
      new Op(s"ivf.$kind", _ => {
        val idx = version.fold(IvfObjectStore.read(spark, ivf))(IvfObjectStore.readAt(spark, ivf, _))
        last = idx.assigned.select("n_id", "v").collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      }),
      new Op(s"impact.$kind", _ => {
        val idx = version.fold(ImpactObjectStore.read(spark, imp))(ImpactObjectStore.readAt(spark, imp, _))
        last = idx.impacts.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      }),
      new Op(s"keepset.$kind", _ => {
        val df = version.fold(KeepSetStore.read(spark, ks))(KeepSetStore.readAt(spark, ks, _))
        last = df.select("doc_id", "cluster_id", "keep").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      }))
    val vacuums = Seq(
      new Op("ivf.vacuum", _ => IvfObjectStore.vacuum(spark, ivf, VacuumAgeMs)),
      new Op("impact.vacuum", _ => ImpactObjectStore.vacuum(spark, imp, VacuumAgeMs)),
      new Op("keepset.vacuum", _ => KeepSetStore.vacuum(spark, ks, VacuumAgeMs)))

    creates ++ adds ++ removals ++ compacts ++ serves ++ reads("read_at", Some(1L)) ++
      reads("read", None) ++ vacuums
  }

  private def versionOf(store: String): Long = {
    val dir = dirs(store)
    (store match {
      case "ivf" => IvfObjectStore.versions(spark, dir)
      case "impact" => ImpactObjectStore.versions(spark, dir)
      case _ => KeepSetStore.versions(spark, dir)
    }).max
  }

  private def filesUnder(dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val out = mutable.HashMap.empty[String, Long]
    while (it.hasNext) { val f = it.next(); out(f.getPath.toString) = f.getLen }
    out.toMap
  }

  /** Expected live ids of `store` after mutation `kind` of this cycle;
    * the impact store never receives the batch. */
  private def liveAfter(store: String, kind: String): Set[Long] = {
    val added = if (store == "impact" || kind == "create") plan.base else plan.base ++ plan.batch
    (if (kind == "create" || kind == "append" || kind == "increment") added
     else added.filterNot(plan.deletes)).toSet
  }

  override def afterOp(op: Op): Boolean = {
    val Array(store, kind) = op.name.split('.')
    if (Mutations.contains(kind)) {
      if (profiled) {
        val now = filesUnder(root)
        val fresh = now.keySet -- listing.keySet
        written += ((fresh.size, fresh.toSeq.map(now).sum))
        listing = now
      }
      expected((store, versionOf(store))) = liveAfter(store, kind)
      true
    } else if (store == "serve") kind match {
      case "pq_adc" | "ivf_float" =>
        annResults += ((op.name, last.asInstanceOf[Map[Long, Seq[Long]]])); true
      case "hybrid_pq" =>
        val res = last.asInstanceOf[Map[Long, Seq[Long]]]
        res.size == BatchSize && res.values.forall(ids => ids.size == K && ids.distinct.size == K)
      case _ =>
        bm25Result = Some(last.asInstanceOf[Seq[(Long, Long, Long)]]); true
    } else if (kind == "vacuum") true
    else {
      val v = if (kind == "read_at") 1L else versionOf(store)
      val want = expected((store, v))
      store match {
        case "ivf" =>
          val got = last.asInstanceOf[Map[Long, Seq[Double]]]
          got.keySet == want && got.forall { case (id, vec) => vectors(id) == vec }
        case "impact" => last.asInstanceOf[Set[Long]] == want
        case _ =>
          val got = last.asInstanceOf[Map[Long, (Long, Boolean)]]
          val lbl = plan.labels(if (v == 1L) 0 else 1)
          got.keySet == want && got.forall { case (id, (c, keep)) => lbl(id) == c && keep == (id == c) }
      }
    }
  }

  /** After the cycle: recall against the exact top-k over the live
    * vectors, pruned BM25 against the unpruned scan, and (traced) the
    * bytes the stores keep on disk per byte of their live rows written as
    * plain parquet. Then the cycle's stores are removed. */
  override def afterPass(pass: Int): Unit = {
    val dot = "aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (a, b) -> a + b)"
    val norm = (c: String) => s"sqrt(aggregate($c, 0D, (a, x) -> a + x * x))"
    val exact = queryFrame(plan).crossJoin(vecsOf(plan.survivors))
      .select(col("q_id"), col("vec_id"), expr(s"$dot / (${norm("qv")} * ${norm("v")})").as("s"))
      .withColumn("r", row_number().over(
        Window.partitionBy("q_id").orderBy(col("s").desc, col("vec_id").asc)))
      .filter(col("r") <= K)
      .collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    // A probe scans NProbe of the index's cells. The nearest cells hold
    // at least their share of the exact top-k in expectation, even on
    // vectors without cluster structure; a search that finds less is
    // broken.
    val floor = NProbe.toDouble / IvfObjectStore.read(spark, dirs("ivf")).centroids.count()
    annResults.foreach { case (name, res) =>
      val rc = res.toSeq.map { case (qid, ids) => ids.count(exact(qid).contains).toDouble / K }
      val mean = if (rc.isEmpty) 0.0 else rc.sum / rc.size
      System.err.println(f"[perfbench] $name recall@$K $mean%.3f (floor $floor%.3f)")
      if (res.size != BatchSize || mean < floor) lateFailures(name) += 1
      recalls += mean
    }
    // a pruned call that threw has already failed
    for (pruned <- bm25Result) {
      val unpruned = bm25Rows(ImpactIndex.bm25TopKStored(
        ImpactObjectStore.read(spark, dirs("impact")), plan.bm25Terms, K))
      if (pruned != unpruned) lateFailures("serve.bm25_maxscore") += 1
    }

    if (profiled) {
      val stored = filesUnder(s"$root/cycle-$pass").values.sum
      val user = s"${cfg.workDir}/user-bytes"
      val lbl = plan.labels(1)
      vecsOf(plan.survivors).write.mode("overwrite").parquet(s"$user/ivf")
      docsOf(plan.survivors).write.mode("overwrite").parquet(s"$user/impact")
      plan.survivors.map(id => (id, lbl(id))).toDF("doc_id", "cluster_id")
        .write.mode("overwrite").parquet(s"$user/keepset")
      storedPerUserByte =
        stored.toDouble / filesUnder(user).filter(_._1.endsWith(".parquet")).values.sum
    }
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    listing = Map.empty
  }

  override def finish(): Map[String, Int] = lateFailures.toMap

  override def layerMetrics: Map[String, Double] = Map(
    "store.files_written" -> written.map(_._1).sum.toDouble,
    "store.bytes_written" -> written.map(_._2).sum.toDouble,
    "store.stored_bytes_per_user_byte" -> storedPerUserByte,
    "serve.recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size))
}

object Stores {
  val StoreNames = Seq("ivf", "impact", "keepset")
  val Mutations = Set("create", "append", "increment", "delete", "compact")
  /** Per-layer store timings: (store, op) pairs that the cycle runs. */
  val StoreOps: Seq[(String, String)] = Seq(
    "ivf" -> "create", "ivf" -> "append", "ivf" -> "delete", "ivf" -> "compact",
    "impact" -> "create", "impact" -> "delete",
    "keepset" -> "create", "keepset" -> "increment", "keepset" -> "delete",
    "keepset" -> "compact") ++
    (for (s <- StoreNames; o <- Seq("read", "read_at", "vacuum")) yield s -> o)
  /** Vacuum keeps nothing older than this: every superseded version goes. */
  val VacuumAgeMs = 1L
  val K = 10
  val BatchSize = 16
  /** Cells an IVF search probes (the catalog's IVF rows use 4 too). */
  val NProbe = 4
  val QuerySchema: StructType = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("q_terms", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("qv", ArrayType(DoubleType, containsNull = false), nullable = false)))
}

/** Union-find with min-id labels: the plain reference for keep-set
  * cluster labels. */
final class UnionFind {
  private val parent = mutable.HashMap.empty[Long, Long]
  def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x
  def find(x: Long): Long = {
    val p = parent(x)
    if (p == x) x else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }
  def labels: Map[Long, Long] = parent.keys.map(k => k -> find(k)).toMap
}
