package graft

import org.apache.spark.sql.functions._

import graft.operators.{ImpactIndex, ImpactObjectStore, ManifestStoreException,
                        TextRank}

/** [[ImpactObjectStore]] — the manifest-committed at-rest BM25 impact
  * index. Like ManifestStoreSpec, every test drives the store THROUGH the
  * s3a mock scheme: the store needs no rename atomicity and no listing
  * consistency. Covers the rebuild/read/time-travel/vacuum lifecycle,
  * serve equality with the from-text BM25 serve (bit-identical addends
  * through the shared kernel), deletes and their tags across rebuilds,
  * and the bucket-pruned
  * scan shape on the manifest substrate. The crash window, torn-manifest
  * healing and the version race are tested once for all three stores in
  * ManifestProtocolSpec.
  */
class ImpactStoreSpec extends GraftFunSuite with ManifestStoreFixture {

  private def docs() = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private val terms = Seq("spark", "vector", "join")

  private def serve(idx: ImpactIndex.StoredImpacts, k: Int = 10) =
    rows(ImpactIndex.bm25TopKStored(idx, terms, k))

  /** The exact BM25 top-k computed from the text, no store involved. */
  private def fromText(corpus: org.apache.spark.sql.DataFrame) =
    rows(TextRank.bm25TopK(corpus, terms, k = 10))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)

  test("lifecycle on the object-store scheme: rebuild publishes v1, the " +
       "serve equals the from-text BM25 serve bit-for-bit, a second rebuild " +
       "publishes v2 while v1 time-travels, vacuum retires it; the scan " +
       "stays bucket-pruned off the manifest's explicit file list") {
    withMockS3 { base =>
      val d = docs()
      val dir = s"s3a:$base/impact"
      assert(ImpactObjectStore.rebuild(d, dir, buckets = 8) == 1L)
      val manifestIdx = ImpactObjectStore.read(spark, dir)
      val v1Serve = serve(manifestIdx)
      assert(v1Serve.nonEmpty && v1Serve == fromText(d),
        "the store must serve the from-text answer")
      // bucket pruning survives the explicit-file-list read
      val plan = manifestIdx.impactsFor(terms)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__bkt"),
        s"manifest read must partition-prune on __bkt:\n$plan")
      // rebuild over a CHANGED corpus: v2 serves the new stats, v1 still
      // serves exactly its own snapshot (idf drift proves the isolation)
      val half = d.filter(col("doc_id") % 2 === 0)
      assert(ImpactObjectStore.rebuild(half, dir, buckets = 8) == 2L)
      assert(ImpactObjectStore.versions(spark, dir) == Seq(1L, 2L))
      assert(serve(ImpactObjectStore.read(spark, dir)) == fromText(half))
      assert(serve(ImpactObjectStore.readAt(spark, dir, 1L)) == v1Serve,
        "time travel must serve the pre-rebuild snapshot verbatim")
      // vacuum with a tiny age bound: the superseded manifest and every
      // file only v1 referenced go; v2 serves untouched
      Thread.sleep(10)
      val deleted = ImpactObjectStore.vacuum(spark, dir, olderThanMs = 5)
      assert(deleted > 0)
      assert(ImpactObjectStore.versions(spark, dir) == Seq(2L))
      intercept[ManifestStoreException] {
        ImpactObjectStore.readAt(spark, dir, 1L)
      }
      assert(serve(ImpactObjectStore.read(spark, dir)).nonEmpty)
    }
  }

  test("deleteStream (r16): opt-out micro-batches drain into tagged " +
       "tombstone versions exactly once; every opted-out doc's postings " +
       "stop serving at the next read") {
    withMockS3 { base =>
      val d = docs()
      val dir = s"s3a:$base/delstream"
      assert(ImpactObjectStore.rebuild(d, dir, buckets = 8) == 1L)
      val full = serve(ImpactObjectStore.read(spark, dir), k = 1 << 20)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val optOut = full.take(3).map(_._2) // docs that demonstrably score
      val input = MemoryStream[Long]
      val sq = graft.operators.ImpactObjectStore
        .deleteStream(dir, input.toDF().toDF("doc_id"), streamId = "opt1")
        .option("checkpointLocation", s"$base/chk_del")
        .start()
      try {
        input.addData(optOut.take(2)); sq.processAllAvailable()
        input.addData(optOut.drop(2)); sq.processAllAvailable()
      } finally sq.stop()
      val fs = fsOf(dir)
      val m = ImpactObjectStore.currentManifest(fs, dir).get
      assert(m.tags.contains("opt1_d0") && m.tags.contains("opt1_d1"),
        m.tags.toString)
      val expect = full.filterNot(r => optOut.contains(r._2)).zipWithIndex
        .map { case ((_, id, hits), i) => (i + 1L, id, hits) }.take(10)
      assert(serve(ImpactObjectStore.read(spark, dir)) == expect)
    }
  }

  test("delete lifecycle: tombstone mask serves immediately and equals the " +
       "unpruned serve minus deleted rows; pruned serve stays covered off " +
       "stale bounds; tag replay no-ops; time travel intact; rebuild " +
       "purges; vacuum keeps files any retained manifest references") {
    withMockS3 { base =>
      val d = docs()
      val dir = s"s3a:$base/del"
      assert(ImpactObjectStore.rebuild(d, dir, buckets = 8) == 1L)
      val full = serve(ImpactObjectStore.read(spark, dir), k = 1 << 20)
      val delIds = d.filter(col("doc_id") % 7 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ImpactObjectStore.delete(spark, dir,
        d.filter(col("doc_id") % 7 === 3).select("doc_id"),
        batchTag = Some("t7")) == 2L)
      // the delete semantics of the ann_ivf_delete_manifest pin:
      // masked serve == the unpruned serve minus deleted docs' rows,
      // ranks recomputed — surviving scores bit-identical (stale df/N)
      val expect = full.filterNot(r => delIds(r._2)).zipWithIndex
        .map { case ((_, id, hits), i) => (i + 1L, id, hits) }.take(10)
      val masked = serve(ImpactObjectStore.read(spark, dir))
      assert(masked == expect && masked.nonEmpty)
      assert(full.exists(r => delIds(r._2)),
        "fixture must actually delete docs that scored") // not vacuous
      // MaxScore pruning over the masked store: the intentionally-stale
      // __maxa is still a VALID upper bound — covered, identical answer
      val pruned = ImpactIndex.bm25TopKPruned(
          ImpactObjectStore.read(spark, dir), terms, k = 10, essential = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(pruned == masked)
      // committed-tag replay no-ops before any work
      assert(ImpactObjectStore.delete(spark, dir, d.limit(0),
        batchTag = Some("t7")) == 2L)
      assert(ImpactObjectStore.versions(spark, dir) == Seq(1L, 2L))
      // pre-delete snapshot still time-travels verbatim
      assert(serve(ImpactObjectStore.readAt(spark, dir, 1L),
                   k = 1 << 20) == full)
      // rebuild over the reduced corpus IS the purge: tombstones cleared,
      // statistics exact (equals the from-text serve on the same corpus)
      val reduced = d.filter(col("doc_id") % 7 =!= 3)
      assert(ImpactObjectStore.rebuild(reduced, dir, buckets = 8) == 3L)
      val fs = fsOf(dir)
      assert(ImpactObjectStore.currentManifest(fs, dir).get.tombs.isEmpty)
      assert(serve(ImpactObjectStore.read(spark, dir)) == fromText(reduced))
      // ADVICE r15 vacuum pin: age every DATA object far past the cutoff
      // while all manifests stay retained — nothing may be reclaimed,
      // because the live set is the union over RETAINED manifests, not
      // the current one (staging time precedes publish time)
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/del"))
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
                     !p.toString.contains("/manifests/"))
        .forEach(p => assert(p.toFile.setLastModified(
          System.currentTimeMillis() - 3600000)))
      assert(ImpactObjectStore.vacuum(spark, dir,
        olderThanMs = 1800000) == 0)
      assert(serve(ImpactObjectStore.readAt(spark, dir, 1L),
                   k = 1 << 20) == full,
        "a time-travel version inside the retention window must keep " +
        "its data files")
      assert(serve(ImpactObjectStore.readAt(spark, dir, 2L)) == masked)
      // now age the superseded manifests too: vacuum reclaims v1/v2 and
      // every file (incl. the applied tombstone sliver) only they used
      java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$base/del/manifests"))
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .forEach(p => assert(p.toFile.setLastModified(
          System.currentTimeMillis() - 3600000)))
      assert(ImpactObjectStore.vacuum(spark, dir, olderThanMs = 1800000) > 0)
      assert(ImpactObjectStore.versions(spark, dir) == Seq(3L))
      val tombs = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      assert(!fs.exists(tombs) || fs.listStatus(tombs).isEmpty,
        "applied tombstone slivers must be reclaimed")
      assert(serve(ImpactObjectStore.read(spark, dir)).nonEmpty)
    }
  }

  test("rebuild carries the committed tags forward: a tagged delete " +
       "replayed after a rebuild returns the current version and " +
       "publishes nothing") {
    withMockS3 { base =>
      val d = docs()
      val dir = s"s3a:$base/retag"
      assert(ImpactObjectStore.rebuild(d, dir, buckets = 4) == 1L)
      val del = d.filter(col("doc_id") % 7 === 3).select("doc_id")
      assert(ImpactObjectStore.delete(spark, dir, del, batchTag = Some("t7")) == 2L)
      assert(ImpactObjectStore.rebuild(d.filter(col("doc_id") % 7 =!= 3), dir,
                                       buckets = 4) == 3L)
      assert(ImpactObjectStore.currentManifest(fsOf(dir), dir).get.tags == Set("t7"))
      assert(ImpactObjectStore.delete(spark, dir, del, batchTag = Some("t7")) == 3L)
      assert(ImpactObjectStore.versions(spark, dir) == Seq(1L, 2L, 3L))
      assert(ImpactObjectStore.currentManifest(fsOf(dir), dir).get.tombs.isEmpty)
    }
  }
}
