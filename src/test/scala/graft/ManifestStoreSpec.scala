package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraftSimilarity, IvfObjectStore, ManifestStoreException}

/** [[IvfObjectStore]] — the manifest-committed object-store layout of the
  * at-rest IVF index. Every test here runs the store THROUGH the s3a mock
  * scheme WITHOUT the force key: this layout's whole point is that it
  * needs no rename atomicity and no listing consistency, so the contract
  * gate that refuses object stores for the directory layout simply does
  * not apply. Covers the full lifecycle (create / tagged append+replay /
  * compact / vacuum / streaming ingest / delete), metadata columns and
  * the PQ tier. The crash window, torn-manifest healing and the
  * optimistic version race are the log's, tested once for all three
  * stores in ManifestProtocolSpec.
  */
class ManifestStoreSpec extends GraftFunSuite with ManifestStoreFixture {

  private def vectors() = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2))

  private def serve(idx: GraftSimilarity.IvfIndex,
                    q: org.apache.spark.sql.DataFrame) =
    GraftSimilarity.ivfTopKWith(idx, q, k = 5).collect().map(key).toSet

  test("PQ tier on the manifest layout: create(pq) stages cw cell files " +
       "plus the immutable codebook, appends auto-encode against it, " +
       "compact repairs and preserves the tier, and the served snapshot " +
       "equals the in-memory IVF×PQ composition") {
    import graft.operators.GraftPq
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 100)
      val seed = e.filter(col("vec_id") < 60)
      val rest = e.filter(col("vec_id") >= 60)
      val idx = GraftSimilarity.buildIvfIndex(seed)
      val cb = GraftPq.trainPq(seed, m = 4, ksub = 8, iters = 2).persist()
      val dir = s"s3a:$base/pq"
      try {
        IvfObjectStore.create(spark, idx, dir, pq = Some(cb))
        // append WITHOUT mentioning PQ: the store auto-encodes against
        // its persisted codebook
        IvfObjectStore.append(spark, dir, rest, batchTag = Some("b1"))
        val read = IvfObjectStore.read(spark, dir)
        assert(read.assigned.columns.contains("cw"),
          "manifest snapshot must surface the code-word column")
        assert(read.assigned.filter(col("cw").isNull).count() == 0,
          "every row (created + appended) must carry a code word")
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val cbStored = GraftPq.readPqCodebook(spark, dir)
        val served = GraftPq.ivfPqTopKWithCw(read, cbStored, q, k = 5,
                                             nprobe = 4, rerankFactor = 4)
          .collect().toSet
        val fullIdx = GraftSimilarity.ivfAppend(idx, rest)
        val enc = GraftPq.pqEncode(
          fullIdx.assigned.select(col("n_id").as("vec_id"), col("v"),
                                  col("c_id")),
          cb, "vec_id", "v", carryCols = Seq("c_id"))
        val expected = GraftPq.ivfPqTopKWith(fullIdx, cb, enc, e, q, k = 5,
                                             nprobe = 4, rerankFactor = 4)
          .collect().toSet
        assert(served == expected,
          "manifest-served PQ tier must equal the in-memory composition")
        // compaction keeps the tier servable (repairCw path is a no-op
        // on an all-cw store but the rewrite must not lose the column)
        IvfObjectStore.compact(spark, dir, maxFilesPerCell = 1)
        val after = GraftPq.ivfPqTopKWithCw(IvfObjectStore.read(spark, dir),
                                            cbStored, q, k = 5, nprobe = 4,
                                            rerankFactor = 4)
          .collect().toSet
        assert(after == expected, "compaction must preserve the PQ tier")
      } finally { cb.unpersist(); () }
    }
  }

  test("object-store lifecycle WITHOUT the force key: create, tagged " +
       "append, committed-replay no-op, compact to one object per cell, " +
       "serve parity with the in-memory index at every step") {
    withMockS3 { base =>
      val e = vectors()
      val seed = e.filter(col("vec_id") < 40)
      val batch = e.filter(col("vec_id").between(40, 79))
      val idx = GraftSimilarity.buildIvfIndex(seed)
      val dir = s"s3a:$base/store"
      // the DIRECTORY layout refuses this scheme; the manifest layout is
      // the documented alternative and must not consult that gate
      intercept[GraftSimilarity.StoreFsContractViolation] {
        GraftSimilarity.writeIvfIndex(idx, dir)
      }
      IvfObjectStore.create(spark, idx, dir)
      val q = batch.limit(5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      assert(serve(IvfObjectStore.read(spark, dir), q) == serve(idx, q))
      // tagged append in two halves + a replay of the first tag
      val (b1, b2) = (batch.filter(col("vec_id") < 60),
                      batch.filter(col("vec_id") >= 60))
      IvfObjectStore.append(spark, dir, b1, batchTag = Some("t_b1"))
      IvfObjectStore.append(spark, dir, b2, batchTag = Some("t_b2"))
      IvfObjectStore.append(spark, dir, b1, batchTag = Some("t_b1")) // replay
      val appended = GraftSimilarity.ivfAppend(idx, batch)
      assert(serve(IvfObjectStore.read(spark, dir), q) == serve(appended, q),
        "append + replay must serve exactly the in-memory append (no dups)")
      // compact: every cell down to one live object; untouched bytes stay
      val fs = fsOf(dir)
      val before = IvfObjectStore.currentManifest(fs, dir).get
      val oversized = before.data.groupBy(IvfObjectStore.cellOf)
        .filter(_._2.length > 1)
      assert(oversized.nonEmpty, "test needs multi-file cells to compact")
      val untouched = before.data.groupBy(IvfObjectStore.cellOf)
        .filter(_._2.length == 1).values.flatten.toSet
      assert(IvfObjectStore.compact(spark, dir, 1) == oversized.size)
      val after = IvfObjectStore.currentManifest(fs, dir).get
      assert(after.data.groupBy(IvfObjectStore.cellOf).values
               .forall(_.length == 1),
        "every cell must hold exactly one live object after compact(1)")
      assert(untouched.subsetOf(after.data.toSet),
        "single-file cells must keep their exact objects (no rewrite)")
      assert(after.tags == before.tags, "tags ride the chain through compact")
      assert(serve(IvfObjectStore.read(spark, dir), q) == serve(appended, q))
      // the replaced objects still exist (readers of older manifests are
      // safe) until vacuum collects them
      val replaced = before.data.toSet -- after.data.toSet
      assert(replaced.nonEmpty && replaced.forall(r =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$r"))))
      Thread.sleep(10)
      assert(IvfObjectStore.vacuum(spark, dir, 1) >= replaced.size)
      assert(replaced.forall(r =>
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$r"))))
      assert(serve(IvfObjectStore.read(spark, dir), q) == serve(appended, q),
        "vacuum must never touch live objects")
    }
  }

  test("concurrent appends to ONE store directory: token-keyed commit " +
       "handoff gives each writer exactly its own file list — both " +
       "batches land once, neither publishes the other's files — and the " +
       "owner session's commitProtocolClass conf is never touched") {
    withMockS3 { base =>
      val e = vectors()
      val idx = GraftSimilarity.buildIvfIndex(e.filter(col("vec_id") < 40))
      val dir = s"s3a:$base/conc"
      IvfObjectStore.create(spark, idx, dir)
      val confKey = "spark.sql.sources.commitProtocolClass"
      val prevProtocol = spark.conf.getOption(confKey)
      assert(!prevProtocol.exists(_.contains("ManifestCommitProtocol")),
        "precondition: owner session runs the default protocol")
      // two writers, same JVM, same $dir/data — the advertised
      // streaming+maintenance shape; path-keyed handoff would let one
      // take() claim the other's record
      val ranges = Seq((40, 49, "ca"), (50, 59, "cb"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ths = ranges.map { case (lo, hi, tag) =>
        new Thread(() => {
          try IvfObjectStore.append(spark, dir,
            e.filter(col("vec_id").between(lo, hi)), batchTag = Some(tag))
          catch { case t: Throwable => errs.add(t) }
        })
      }
      ths.foreach(_.start()); ths.foreach(_.join())
      assert(errs.isEmpty, s"concurrent appends failed: ${errs.peek()}")
      assert(spark.conf.getOption(confKey) == prevProtocol,
        "store writes must run on a forked session — the owner conf " +
        "was mutated")
      val fs = fsOf(dir)
      val m = IvfObjectStore.currentManifest(fs, dir).get
      assert(m.tags == Set("ca", "cb"), m.tags.toString)
      // every manifest data entry resolves to real bytes (no writer
      // published a file list that belonged to the other and lost its own)
      m.data.foreach { rel =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")),
          s"manifest references a missing object: $rel")
      }
      // and the served result is exactly base + both batches, once each
      val ids = IvfObjectStore.read(spark, dir).assigned
        .select("n_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L until 60L),
        s"expected ids 0..59 exactly once, got ${ids.length} rows")
    }
  }

  test("time travel: every un-vacuumed manifest version serves exactly " +
       "the snapshot it committed; vacuum bounds the window; readAt on a " +
       "vacuumed version names the readable ones") {
    withMockS3 { base =>
      val e = vectors()
      val idx = GraftSimilarity.buildIvfIndex(e.filter(col("vec_id") < 40))
      val dir = s"s3a:$base/tt"
      IvfObjectStore.create(spark, idx, dir)
      IvfObjectStore.append(spark, dir,
        e.filter(col("vec_id").between(40, 49)), batchTag = Some("b1"))
      IvfObjectStore.append(spark, dir,
        e.filter(col("vec_id").between(50, 59)), batchTag = Some("b2"))
      assert(IvfObjectStore.versions(spark, dir) == Seq(1L, 2L, 3L))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      // v1 = create-time snapshot; v2 = +b1; v3 = +b1+b2 = current
      assert(serve(IvfObjectStore.readAt(spark, dir, 1), q) == serve(idx, q))
      assert(serve(IvfObjectStore.readAt(spark, dir, 2), q) ==
               serve(GraftSimilarity.ivfAppend(idx,
                 e.filter(col("vec_id").between(40, 49))), q))
      assert(serve(IvfObjectStore.readAt(spark, dir, 3), q) ==
               serve(IvfObjectStore.read(spark, dir), q))
      // vacuum with a tiny age bound collects superseded manifests
      Thread.sleep(10)
      IvfObjectStore.vacuum(spark, dir, 1)
      val left = IvfObjectStore.versions(spark, dir)
      assert(left == Seq(3L), s"vacuum must keep only current: $left")
      val err = intercept[ManifestStoreException] {
        IvfObjectStore.readAt(spark, dir, 1)
      }
      assert(err.getMessage.contains("readable versions: 3"))
    }
  }

  test("streaming ingest into the object store: micro-batches commit as " +
       "tagged manifest versions, serve parity with in-memory append") {
    withMockS3 { base =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val e = vectors()
      val idx = GraftSimilarity.buildIvfIndex(e.filter(col("vec_id") < 40))
      val rest = e.filter(col("vec_id").between(40, 79))
      val dir = s"s3a:$base/ingest"
      IvfObjectStore.create(spark, idx, dir)
      val rows = rest.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toSeq
      val (b1, b2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(Long, List[Double])]
      val sq = IvfObjectStore
        .ingestStream(dir, input.toDF().toDF("vec_id", "embedding"),
                      streamId = "os1")
        .option("checkpointLocation", s"$base/chk_ingest")
        .start()
      try {
        input.addData(b1); sq.processAllAvailable()
        input.addData(b2); sq.processAllAvailable()
      } finally sq.stop()
      val fs = fsOf(dir)
      val m = IvfObjectStore.currentManifest(fs, dir).get
      assert(m.tags == Set("os1_b0", "os1_b1"), m.tags.toString)
      val q = rest.limit(5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      assert(serve(IvfObjectStore.read(spark, dir), q) ==
               serve(GraftSimilarity.ivfAppend(idx, rest), q))
    }
  }

  test("tagged + streaming deletes: a committed delete tag no-ops on " +
       "replay; deleteStream drains opt-out micro-batches exactly once") {
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 100)
      val dir = s"s3a:$base/delstream"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(e), dir)
      val fs = fsOf(dir)
      // tagged delete: a replay with the committed tag no-ops BEFORE work
      val ids1 = e.filter(col("vec_id") % 10 === 1).select("vec_id")
      assert(IvfObjectStore.delete(spark, dir, ids1,
                                   batchTag = Some("d1")) > 0)
      val vAfter = IvfObjectStore.versions(spark, dir).max
      assert(IvfObjectStore.delete(spark, dir, ids1,
                                   batchTag = Some("d1")) == 0)
      assert(IvfObjectStore.versions(spark, dir).max == vAfter,
        "a committed delete tag must not publish again")
      // streaming opt-out: micro-batches land as tagged delete versions
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Long]
      val sq = IvfObjectStore
        .deleteStream(dir, input.toDF().toDF("vec_id"), streamId = "opt1")
        .option("checkpointLocation", s"$base/chk_del")
        .start()
      try {
        input.addData(Seq(2L, 12L, 22L)); sq.processAllAvailable()
        input.addData(Seq(32L, 42L)); sq.processAllAvailable()
      } finally sq.stop()
      val m = IvfObjectStore.currentManifest(fs, dir).get
      assert(m.tags.contains("opt1_d0") && m.tags.contains("opt1_d1") &&
             m.tags.contains("d1"), m.tags.toString)
      val served = IvfObjectStore.read(spark, dir).assigned
      assert(served.filter(col("n_id").isin(2L, 12L, 22L, 32L, 42L) ||
                           col("n_id") % 10 === 1).count() == 0,
        "every opted-out id must be gone from the HEAD snapshot")
      assert(served.count() ==
             e.filter(col("vec_id") % 10 =!= 1 &&
                      !col("vec_id").isin(2L, 12L, 22L, 32L, 42L)).count(),
        "nothing beyond the opted-out ids may be deleted")
    }
  }

  test("delete: deleted ids never served at HEAD, serve-after-delete " +
       "equals serve-over-filtered-population, readAt still serves the " +
       "pre-delete snapshot, vacuum reclaims the rewritten slivers, a " +
       "no-match delete publishes nothing, tags survive") {
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 120)
      val seed = e.filter(col("vec_id") < 100)
      val rest = e.filter(col("vec_id") >= 100)
      val dir = s"s3a:$base/del"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(seed), dir)
      IvfObjectStore.append(spark, dir, rest, batchTag = Some("b1"))
      val fs = fsOf(dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val preVersion = IvfObjectStore.versions(spark, dir).max
      val preManifest = IvfObjectStore.currentManifest(fs, dir).get
      val preServe = serve(IvfObjectStore.read(spark, dir), q)
      // delete every vec_id % 7 == 3 (some are in the top-5 lists)
      val delIds = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      assert(IvfObjectStore.delete(spark, dir, delIds) > 0)
      val head = IvfObjectStore.read(spark, dir)
      assert(head.assigned.filter(col("n_id") % 7 === 3).count() == 0,
        "deleted ids must be gone from the HEAD snapshot")
      // serve-after-delete ≡ serve over the filtered population under the
      // SAME (pre-delete) centroids — deletes never move cells
      val expected = GraftSimilarity.IvfIndex(
        head.centroids,
        GraftSimilarity.ivfAppend(GraftSimilarity.buildIvfIndex(seed), rest)
          .assigned.filter(col("n_id") % 7 =!= 3))
      assert(serve(head, q) == serve(expected, q),
        "served HEAD must equal the filtered-population serve")
      // time travel: the pre-delete version still serves what it did
      assert(serve(IvfObjectStore.readAt(spark, dir, preVersion), q)
               == preServe)
      // tags ride the chain: the replayed tagged batch stays a no-op
      val rows = head.assigned.count()
      IvfObjectStore.append(spark, dir, rest, batchTag = Some("b1"))
      assert(IvfObjectStore.read(spark, dir).assigned.count() == rows,
        "a committed tag must no-op after a delete")
      // no-match delete: nothing staged, nothing published
      val vBefore = IvfObjectStore.versions(spark, dir).max
      assert(IvfObjectStore.delete(spark, dir,
        spark.range(9000000, 9000005).selectExpr("id AS vec_id")) == 0)
      assert(IvfObjectStore.versions(spark, dir).max == vBefore,
        "a delete matching no live row must not publish a version")
      // vacuum reclaims the rewritten slivers (and the old manifests)
      val headManifest = IvfObjectStore.currentManifest(fs, dir).get
      val replaced = preManifest.data.toSet -- headManifest.data.toSet
      assert(replaced.nonEmpty, "the delete must have rewritten slivers")
      Thread.sleep(10)
      assert(IvfObjectStore.vacuum(spark, dir, 1) >= replaced.size)
      assert(replaced.forall(r =>
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$r"))),
        "vacuum must reclaim the pre-delete slivers")
      assert(serve(IvfObjectStore.read(spark, dir), q) == serve(expected, q),
        "vacuum must never touch the live snapshot")
    }
  }

  test("metadata on the manifest layout: create stages the metadata " +
       "column, appends must carry it (fail-loud), filtered serve works") {
    withMockS3 { base =>
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"),
                col("label"))
      val seed = e.filter(col("vec_id") < 60)
      val batch = e.filter(col("vec_id").between(60, 79))
      val dir = s"s3a:$base/meta_store"
      IvfObjectStore.create(
        spark, GraftSimilarity.buildIvfIndex(seed, metaCols = Seq("label")),
        dir)
      val rt = IvfObjectStore.read(spark, dir)
      assert(rt.assigned.columns.contains("label"),
        "create must stage the metadata column into the cell objects")
      // fail-loud on a metadata-less batch, then a correct append
      val err = intercept[IllegalArgumentException] {
        IvfObjectStore.append(spark, dir, batch.drop("label"))
      }
      assert(err.getMessage.contains("label"), err.getMessage)
      IvfObjectStore.append(spark, dir, batch)
      val appended = IvfObjectStore.read(spark, dir)
      assert(appended.assigned.filter(col("label").isNull).count() == 0,
        "append must never null-pad metadata")
      // filtered serve at covering nprobe ≡ brute force over the
      // filtered population of the appended store
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val served = GraftSimilarity.ivfTopKWith(
          appended, q, k = 3, nprobe = appended.centroids.count().toInt,
          where = Some(col("label") === 3))
        .select("q_id", "n_id", "rnk").collect().toSet
      val brute = GraftSimilarity.bruteForceTopK(
          e.filter(col("vec_id") < 80).filter(col("label") === 3), q, k = 3,
          idCol = "vec_id")
        .select("q_id", "n_id", "rnk").collect().toSet
      assert(served == brute)
    }
  }
}
