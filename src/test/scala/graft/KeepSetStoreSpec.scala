package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraftDedup, KeepSetStore, ManifestStoreException}

/** [[KeepSetStore]] — the versioned at-rest keep-set. Through the mock
  * object-store scheme like the sibling manifest stores: chained
  * increments ≡ the from-scratch closure, delta files are sliver-sized,
  * last-wins resolution across repeated remaps of one id, tag-idempotent
  * replays, compact folding, time travel, vacuum. Create-if-absent, the
  * crash window, torn-manifest healing and the version race are tested
  * once for all three stores in ManifestProtocolSpec.
  */
class KeepSetStoreSpec extends GraftFunSuite with ManifestStoreFixture {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet

  test("chained increments resolve to the from-scratch keep-set; deltas " +
       "are sliver-sized; an id remapped twice resolves last-wins; " +
       "time travel serves each day's decisions; compact folds to a " +
       "pure-scan base; tags no-op replays; vacuum retires") {
    withMockS3 { base =>
      val dir = s"s3a:$base/ks"
      // day 0: clusters {1,2}, {5,6}, {10,11}; singletons 20, 21
      val d0Ids = Seq(1L, 2L, 5L, 6L, 10L, 11L, 20L, 21L).toDF("doc_id")
      val d0Pairs = Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("a_id", "b_id")
      assert(KeepSetStore.create(
        GraftDedup.keepSet(d0Ids, d0Pairs), dir) == 1L)
      val day0 = rows(KeepSetStore.read(spark, dir))
      assert(day0 == rows(GraftDedup.keepSet(d0Ids, d0Pairs)))
      // day 1: 0 bridges {5,6} and {10,11} (new global min); 30 joins
      // {1,2}; 40–41 is a new pair; 50 arrives pairless
      val d1Ids = Seq(0L, 30L, 40L, 41L, 50L).toDF("doc_id")
      val d1Pairs = Seq((0L, 6L), (0L, 11L), (2L, 30L), (40L, 41L))
        .toDF("a_id", "b_id")
      assert(KeepSetStore.increment(spark, dir, d1Ids, d1Pairs,
                                    batchTag = Some("day1")) == 2L)
      val want1 = rows(GraftDedup.keepSet(
        d0Ids.unionByName(d1Ids), d0Pairs.unionByName(d1Pairs)))
      assert(rows(KeepSetStore.read(spark, dir)) == want1)
      // the delta is the CHANGED sliver, not the corpus: 5,6,10,11 moved
      // to 0, 30 joined 1, 0/40/41/50 are new — 21 and the {1,2} rows
      // stayed put and must not have been rewritten
      val fs = fsOf(dir)
      val m2 = KeepSetStore.currentManifest(fs, dir).get
      val deltaRows = spark.read
        .parquet(m2.deltas.map(r => s"$dir/$r"): _*)
      assert(deltaRows.count() == 9L,
        s"delta must be the 9 changed rows, got ${deltaRows.count()}")
      assert(deltaRows.filter(col("doc_id").isin(1L, 2L, 20L, 21L))
        .count() == 0L, "untouched rows must not be rewritten")
      // replayed tag: no-op, version unchanged
      assert(KeepSetStore.increment(spark, dir, d1Ids, d1Pairs,
                                    batchTag = Some("day1")) == 2L)
      // day 2: 100 bridges the two superclusters (remaps id 1's cluster
      // AND the 0-cluster — several day-1 rows remap AGAIN: last-wins)
      val d2Ids = Seq(100L).toDF("doc_id")
      val d2Pairs = Seq((100L, 1L), (100L, 0L)).toDF("a_id", "b_id")
      assert(KeepSetStore.increment(spark, dir, d2Ids, d2Pairs,
                                    batchTag = Some("day2")) == 3L)
      val want2 = rows(GraftDedup.keepSet(
        d0Ids.unionByName(d1Ids).unionByName(d2Ids),
        d0Pairs.unionByName(d1Pairs).unionByName(d2Pairs)))
      assert(rows(KeepSetStore.read(spark, dir)) == want2)
      assert(KeepSetStore.read(spark, dir)
        .filter(col("doc_id") === 5L).head().getLong(1) == 0L)
      // time travel: each day's decisions serve as published
      assert(rows(KeepSetStore.readAt(spark, dir, 1L)) == day0)
      assert(rows(KeepSetStore.readAt(spark, dir, 2L)) == want1)
      assert(KeepSetStore.versions(spark, dir) == Seq(1L, 2L, 3L))
      // compact: folds to a single base, read unchanged, deltas gone,
      // tags carried (replays still no-op)
      assert(KeepSetStore.compact(spark, dir) == 4L)
      val m4 = KeepSetStore.currentManifest(fs, dir).get
      assert(m4.deltas.isEmpty && m4.tags == Set("day1", "day2"))
      assert(rows(KeepSetStore.read(spark, dir)) == want2)
      assert(KeepSetStore.increment(spark, dir, d2Ids, d2Pairs,
                                    batchTag = Some("day2")) == 4L)
      // compact with nothing outstanding: no-op
      assert(KeepSetStore.compact(spark, dir) == 4L)
      // vacuum: superseded manifests + unreferenced generations retire;
      // the live base survives, old versions stop serving
      Thread.sleep(10)
      assert(KeepSetStore.vacuum(spark, dir, olderThanMs = 5) > 0)
      assert(KeepSetStore.versions(spark, dir) == Seq(4L))
      intercept[ManifestStoreException] {
        KeepSetStore.readAt(spark, dir, 2L)
      }
      assert(rows(KeepSetStore.read(spark, dir)) == want2)
    }
  }

  test("increment filters candidate ids against its OWN snapshot: " +
       "already-stored endpoints passed as 'new' stage no duplicate row " +
       "(ADVICE r15 — the stream passes raw endpoint sets); vacuum keeps " +
       "data files any retained manifest references") {
    withMockS3 { base =>
      val dir = s"s3a:$base/ks2"
      val d0Ids = Seq(1L, 2L, 5L).toDF("doc_id")
      val d0Pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
      assert(KeepSetStore.create(
        GraftDedup.keepSet(d0Ids, d0Pairs), dir) == 1L)
      // the streaming shape: the whole endpoint set (stored 2 and 5,
      // new 9) rides in as candidate new ids
      val cand = Seq(2L, 5L, 9L).toDF("doc_id")
      val pairs = Seq((2L, 9L), (5L, 9L)).toDF("a_id", "b_id")
      assert(KeepSetStore.increment(spark, dir, cand, pairs,
                                    batchTag = Some("b0")) == 2L)
      val want = rows(GraftDedup.keepSet(
        d0Ids.unionByName(Seq(9L).toDF("doc_id")),
        d0Pairs.unionByName(pairs)))
      assert(rows(KeepSetStore.read(spark, dir)) == want)
      // the delta carries each touched id EXACTLY once — a stored id
      // that leaked through as 'new' would appear twice in one version
      val fs = fsOf(dir)
      val m2 = KeepSetStore.currentManifest(fs, dir).get
      val delta = spark.read.parquet(m2.deltas.map(r => s"$dir/$r"): _*)
      assert(delta.count() == delta.select("doc_id").distinct().count(),
        "duplicate per-id rows in one delta version")
      // ADVICE r15 vacuum pin: age the DATA far past the cutoff while
      // all manifests stay retained — the union live set keeps every
      // file a readable version references, so time travel still serves
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ks2/data"))
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .forEach(p => assert(p.toFile.setLastModified(
          System.currentTimeMillis() - 3600000)))
      assert(KeepSetStore.vacuum(spark, dir, olderThanMs = 1800000) == 0)
      assert(rows(KeepSetStore.readAt(spark, dir, 1L)) ==
             rows(GraftDedup.keepSet(d0Ids, d0Pairs)))
      assert(rows(KeepSetStore.read(spark, dir)) == want)
    }
  }

  test("takedown (r16): delete masks ids immediately with survivors " +
       "bit-unchanged (an orphaned keeper's cluster serves with no kept " +
       "member), time travel intact, tag replay no-ops, a pre-purge " +
       "re-add stays masked, compact purges physically and re-opens " +
       "re-adds, vacuum keeps tomb slivers for retained versions") {
    withMockS3 { base =>
      val dir = s"s3a:$base/ks3"
      // cluster {1,2} with keeper 1; singleton 5
      val ids0 = Seq(1L, 2L, 5L).toDF("doc_id")
      val pairs0 = Seq((1L, 2L)).toDF("a_id", "b_id")
      assert(KeepSetStore.create(GraftDedup.keepSet(ids0, pairs0), dir) == 1L)
      assert(KeepSetStore.delete(spark, dir, Seq(1L).toDF("doc_id"),
                                 batchTag = Some("td0")) == 2L)
      // keeper 1 gone; survivor 2 still labels cluster 1 (opaque
      // identity) and serves with keep = false — the conservative
      // no-kept-member consequence, stated in the scaladoc
      assert(rows(KeepSetStore.read(spark, dir)) ==
             Set((2L, 1L, false), (5L, 5L, true)))
      assert(rows(KeepSetStore.readAt(spark, dir, 1L)) ==
             rows(GraftDedup.keepSet(ids0, pairs0)))
      assert(KeepSetStore.delete(spark, dir, Seq(1L).toDF("doc_id"),
                                 batchTag = Some("td0")) == 2L) // replay
      // increment resolves against the MASKED table; the re-add of the
      // deleted id 1 stages but STAYS masked (takedown outranks re-crawl)
      assert(KeepSetStore.increment(spark, dir,
               Seq(9L, 1L).toDF("doc_id"),
               Seq((5L, 9L)).toDF("a_id", "b_id"),
               batchTag = Some("b1")) == 3L)
      assert(rows(KeepSetStore.read(spark, dir)) ==
             Set((2L, 1L, false), (5L, 5L, true), (9L, 5L, false)))
      // vacuum with every manifest retained: tomb slivers survive (v2/v3
      // still serve masked), nothing deleted
      val fs = fsOf(dir)
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ks3/data"))
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .forEach(p => assert(p.toFile.setLastModified(
          System.currentTimeMillis() - 3600000)))
      assert(KeepSetStore.vacuum(spark, dir, olderThanMs = 1800000) == 0)
      assert(rows(KeepSetStore.readAt(spark, dir, 2L)) ==
             Set((2L, 1L, false), (5L, 5L, true)))
      // compact = the purge: same served table, but the new base
      // physically omits the deleted id, tombstones clear, and the
      // masked pre-purge re-add is dropped with them
      assert(KeepSetStore.compact(spark, dir) == 4L)
      assert(rows(KeepSetStore.read(spark, dir)) ==
             Set((2L, 1L, false), (5L, 5L, true), (9L, 5L, false)))
      val m4 = KeepSetStore.currentManifest(fs, dir).get
      assert(m4.tombs.isEmpty && m4.deltas.isEmpty)
      assert(spark.read.parquet(m4.base.map(r => s"$dir/$r"): _*)
        .filter(col("doc_id") === 1L).count() == 0L)
      // post-purge re-add surfaces normally
      assert(KeepSetStore.increment(spark, dir, Seq(1L).toDF("doc_id"),
               Seq.empty[(Long, Long)].toDF("a_id", "b_id"),
               batchTag = Some("b2")) == 5L)
      assert(rows(KeepSetStore.read(spark, dir)) ==
             Set((1L, 1L, true), (2L, 1L, false), (5L, 5L, true),
                 (9L, 5L, false)))
    }
  }

  test("deleteStream (r16): opt-out micro-batches drain into tagged " +
       "tombstone versions exactly once; each opted-out id leaves the " +
       "served keep-set at the next read") {
    withMockS3 { base =>
      val dir = s"s3a:$base/ks4"
      val ids0 = Seq(1L, 2L, 5L, 9L).toDF("doc_id")
      val pairs0 = Seq((1L, 2L)).toDF("a_id", "b_id")
      assert(KeepSetStore.create(GraftDedup.keepSet(ids0, pairs0), dir) == 1L)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val sq = KeepSetStore
        .deleteStream(dir, input.toDF().toDF("doc_id"), streamId = "opt1")
        .option("checkpointLocation", s"$base/chk_ks")
        .start()
      try {
        input.addData(Seq(5L)); sq.processAllAvailable()
        input.addData(Seq(2L)); sq.processAllAvailable()
      } finally sq.stop()
      val fs = fsOf(dir)
      val m = KeepSetStore.currentManifest(fs, dir).get
      assert(m.tags.contains("opt1_d0") && m.tags.contains("opt1_d1"),
        m.tags.toString)
      assert(rows(KeepSetStore.read(spark, dir)) ==
             Set((1L, 1L, true), (9L, 9L, true)))
    }
  }
}
