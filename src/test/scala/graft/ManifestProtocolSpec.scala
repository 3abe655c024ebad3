package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraftDedup, GraftSimilarity, ImpactObjectStore,
  IvfObjectStore, KeepSetStore, ManifestConflict, ManifestLog, ManifestStore,
  ManifestStoreException}

/** The [[ManifestLog]] protocol, run once for each of the three manifest
  * stores through the mock object-store scheme: create-if-absent chain
  * start, the crash window between staging and publish, torn-manifest
  * fallback and healing, the optimistic version race, tag replay, time
  * travel bounded by vacuum, and an eventually-consistent listing that
  * keeps showing vacuumed manifests and files.
  */
class ManifestProtocolSpec extends GraftFunSuite with ManifestStoreFixture {
  import spark.implicits._

  /** One store as the protocol sees it: a v1, one tagged mutation that
    * publishes the next version, the ids its snapshots serve, and files
    * staged the way its writers stage them but never published. */
  private abstract class Subject(val store: ManifestStore) {
    def name: String = store.getClass.getSimpleName.stripSuffix("$")
    def create(dir: String): Unit
    def mutate(dir: String, tag: String): Unit
    /** Ids served at the head, or at `version`; duplicates kept. */
    def ids(dir: String, version: Option[Long] = None): Seq[Long]
    /** What [[ids]] serves after one [[mutate]] on a store serving `before`. */
    def mutated(before: Seq[Long]): Seq[Long]
    /** Stage files as a writer that dies before its publish; their
      * store-relative paths. */
    def orphans(dir: String): Seq[String]
  }

  private def vectors() = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def sortedIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  private val ivf = new Subject(IvfObjectStore) {
    def create(dir: String): Unit = IvfObjectStore.create(spark,
      GraftSimilarity.buildIvfIndex(vectors().filter(col("vec_id") < 40)), dir)
    def mutate(dir: String, tag: String): Unit = IvfObjectStore.append(spark,
      dir, vectors().filter(col("vec_id").between(40, 59)), batchTag = Some(tag))
    def ids(dir: String, version: Option[Long]): Seq[Long] = sortedIds(
      version.fold(IvfObjectStore.read(spark, dir))(IvfObjectStore.readAt(spark, dir, _))
        .assigned.select("n_id"))
    def mutated(before: Seq[Long]): Seq[Long] = (before ++ (40L to 59L)).sorted
    def orphans(dir: String): Seq[String] = ManifestLog.writeVia(
      vectors().filter(col("vec_id").between(40, 59))
        .select(col("vec_id").as("n_id"), col("v"), lit(0L).as("c_id")),
      s"$dir/data", Seq("c_id")).under("data").files
  }

  private val deleted = Seq(3L, 5L)
  private val impact = new Subject(ImpactObjectStore) {
    def create(dir: String): Unit = ImpactObjectStore.rebuild(
      spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text"),
      dir, buckets = 4)
    def mutate(dir: String, tag: String): Unit = ImpactObjectStore.delete(
      spark, dir, deleted.toDF("doc_id"), batchTag = Some(tag))
    def ids(dir: String, version: Option[Long]): Seq[Long] = sortedIds(
      version.fold(ImpactObjectStore.read(spark, dir))(ImpactObjectStore.readAt(spark, dir, _))
        .impacts.select("doc_id").distinct())
    def mutated(before: Seq[Long]): Seq[Long] = before.filterNot(deleted.contains)
    def orphans(dir: String): Seq[String] = ManifestLog.writeVia(
      spark.range(3).select(lit("orphanterm").as("__term"), col("id").as("doc_id"),
                            lit(1L).as("__a"), lit(0).as("__bkt")),
      s"$dir/impacts", Seq("__bkt")).under("impacts").files
  }

  private val keepSet = new Subject(KeepSetStore) {
    def create(dir: String): Unit = KeepSetStore.create(GraftDedup.keepSet(
      Seq(1L, 2L, 5L).toDF("doc_id"), Seq((1L, 2L)).toDF("a_id", "b_id")), dir)
    def mutate(dir: String, tag: String): Unit = KeepSetStore.increment(spark,
      dir, Seq(9L).toDF("doc_id"), Seq((5L, 9L)).toDF("a_id", "b_id"),
      batchTag = Some(tag))
    def ids(dir: String, version: Option[Long]): Seq[Long] = sortedIds(
      version.fold(KeepSetStore.read(spark, dir))(KeepSetStore.readAt(spark, dir, _))
        .select("doc_id"))
    def mutated(before: Seq[Long]): Seq[Long] = (before :+ 9L).sorted
    def orphans(dir: String): Seq[String] = ManifestLog.writeVia(
      Seq((9L, 5L, 2L)).toDF("doc_id", "cluster_id", "__v"),
      s"$dir/data", Nil).under("data").files
  }

  private def head(s: Subject, dir: String) =
    s.store.currentManifest(fsOf(dir), dir).get

  for (s <- Seq(ivf, keepSet)) {
    test(s"${s.name}: create refuses an existing chain; a mutation " +
         "without a chain fails loud") {
      withMockS3 { base =>
        val dir = s"s3a:$base/create"
        intercept[ManifestStoreException](s.mutate(dir, "b0"))
        s.create(dir)
        val err = intercept[ManifestStoreException](s.create(dir))
        assert(err.getMessage.contains("already holds manifest v1"), err.getMessage)
        assert(s.store.versions(spark, dir) == Seq(1L))
      }
    }
  }

  for (s <- Seq(ivf, impact, keepSet)) {
    test(s"${s.name}: crash between staging and publish: the orphans stay " +
         "invisible, the retried batch lands exactly once, vacuum collects " +
         "the orphans") {
      withMockS3 { base =>
        val dir = s"s3a:$base/crash"
        s.create(dir)
        val before = s.ids(dir)
        val orphans = s.orphans(dir)
        assert(orphans.nonEmpty &&
               orphans.forall(r => fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/$r"))))
        assert(s.ids(dir) == before && s.store.versions(spark, dir) == Seq(1L),
          "staged-but-unpublished files must be invisible to readers")
        s.mutate(dir, "crash_b0")
        assert(s.store.versions(spark, dir) == Seq(1L, 2L))
        assert(s.ids(dir) == s.mutated(before),
          "the retried batch must land exactly once beside the orphans")
        Thread.sleep(10)
        assert(s.store.vacuum(spark, dir, 1) >= orphans.size)
        assert(orphans.forall(r => !fsOf(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/$r"))))
        assert(s.ids(dir) == s.mutated(before), "vacuum must never touch live files")
      }
    }

    test(s"${s.name}: torn manifest: readers fall back to the previous " +
         "version; a FRESH torn file is never deleted and the writer gets " +
         "ManifestConflict; a stale one is healed and its slot reused") {
      withMockS3 { base =>
        val dir = s"s3a:$base/torn"
        s.create(dir)
        val before = s.ids(dir)
        val header = head(s, dir).render.takeWhile(_ != '\n')
        // a prefix of a real manifest: no checksum trailer
        publishRaw(dir, 2L, s"$header\nversion 2\n")
        assert(head(s, dir).version == 1, "a torn manifest must never be served")
        assert(s.ids(dir) == before)
        // its writer may be mid-close: the slot retries run out instead
        intercept[ManifestConflict](s.mutate(dir, "t1"))
        assert(fsOf(dir).exists(manifestPath(dir, 2L)))
        ageManifest(dir, 2L, ManifestLog.TornManifestGraceMs + 1000)
        s.mutate(dir, "t1")
        val m = head(s, dir)
        assert(m.version == 2 && m.tags == Set("t1"),
          s"healed slot must be reused: v=${m.version} tags=${m.tags}")
        assert(s.ids(dir) == s.mutated(before))
      }
    }

    test(s"${s.name}: optimistic version race: a slot squatted by a valid " +
         "foreign manifest is absorbed, the retry lands on top of it") {
      withMockS3 { base =>
        val dir = s"s3a:$base/race"
        s.create(dir)
        val before = s.ids(dir)
        publishRaw(dir, 2L, resealed(head(s, dir).render)(_.map(l =>
          if (l.startsWith("version ")) "version 2" else l)))
        s.mutate(dir, "loser")
        val m = head(s, dir)
        assert(m.version == 3 && m.tags == Set("loser"),
          s"retry must land on top of the squatted version: v=${m.version} " +
          s"tags=${m.tags}")
        assert(s.store.versions(spark, dir) == Seq(1L, 2L, 3L))
        assert(s.ids(dir) == s.mutated(before))
      }
    }

    test(s"${s.name}: a committed tag replays as a no-op") {
      withMockS3 { base =>
        val dir = s"s3a:$base/replay"
        s.create(dir)
        val before = s.ids(dir)
        s.mutate(dir, "r1")
        s.mutate(dir, "r1")
        assert(s.store.versions(spark, dir) == Seq(1L, 2L),
          "a committed tag must not publish again")
        assert(s.ids(dir) == s.mutated(before))
      }
    }

    test(s"${s.name}: time travel: readAt serves each version until vacuum; " +
         "readAt on a vacuumed version names the readable ones") {
      withMockS3 { base =>
        val dir = s"s3a:$base/tt"
        s.create(dir)
        val before = s.ids(dir)
        s.mutate(dir, "b1")
        assert(s.ids(dir, Some(1L)) == before)
        assert(s.ids(dir, Some(2L)) == s.mutated(before))
        Thread.sleep(10)
        s.store.vacuum(spark, dir, 1)
        assert(s.store.versions(spark, dir) == Seq(2L))
        val err = intercept[ManifestStoreException](s.ids(dir, Some(1L)))
        assert(err.getMessage.contains("readable versions: 2"), err.getMessage)
      }
    }

    test(s"${s.name}: a lagging listing that still shows vacuumed manifests " +
         "and files: vacuum, versions and read succeed, and vacuum counts " +
         "only what it deleted") {
      withMockFs(classOf[graft.testfs.MockLaggingListingFs]) { base =>
        val dir = s"s3a:$base/lag"
        s.create(dir)
        s.mutate(dir, "a")
        s.mutate(dir, "b")
        val served = s.ids(dir)
        Thread.sleep(10)
        assert(s.store.vacuum(spark, dir, 1) >= 2)
        val manifests = new org.apache.hadoop.fs.Path(s"$dir/manifests")
        assert(fsOf(dir).listStatus(manifests).length == 3,
          "the listing must still show the vacuumed manifests")
        assert(s.store.versions(spark, dir) == Seq(3L))
        assert(s.ids(dir) == served)
        assert(s.store.vacuum(spark, dir, 1) == 0,
          "files a lagging listing shows after their deletion are not deleted again")
        assert(s.ids(dir) == served)
      }
    }
  }
}
