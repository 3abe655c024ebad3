package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.GraftJobProbe
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.operators.{GraftDedup, GraftPq, GraftSimilarity, ImpactObjectStore,
  IvfObjectStore, KeepSetStore, ManifestLog, ManifestStoreException}

/** The manifest scan: every read of the three manifest stores plans from
  * the manifest alone — leaf statuses from the recorded lengths, the
  * schema from the recorded family schemas — so building a read frame
  * launches no Spark job (no footer inference, no parallel listing), and
  * the plans keep their partition pruning. Parity: a snapshot mixing
  * pre-PQ and PQ cell files mutates exactly as the `mergeSchema` read it
  * replaces, and a manifest written before lengths and schemas were
  * recorded reads the same through the same scan (driver-side footer
  * reads, still no job). */
class ManifestScanSpec extends GraftFunSuite with ManifestStoreFixture {
  import spark.implicits._

  private def jobs[T](body: => T): (T, Seq[String]) =
    GraftJobProbe.jobs(spark.sparkContext)(body)

  private def vectors() = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def docs() = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** Rows as comparable strings (binary and array columns included). */
  private def rowSet(df: DataFrame): Set[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(c => col(c)): _*).collect().map { r =>
      cols.indices.map(i => r.get(i) match {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case o => String.valueOf(o)
      }).mkString("|")
    }.toSet
  }

  test("building read / readAt frames of all three stores launches no " +
       "Spark job; the stored codebook costs one bounded collect and its " +
       "reuse none") {
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 120)
      val seed = e.filter(col("vec_id") < 80)
      val ivf = s"s3a:$base/ivf"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(seed), ivf,
        pq = Some(GraftPq.trainPq(seed, m = 4, ksub = 8, iters = 1)))
      def cbRows(cb: GraftPq.PqCodebook) =
        cb.codebook.collect().map(_.toString).toSet
      // one bounded collect on the first read of the codebook files, none
      // on a repeat read, one again once the files change (below)
      val (cb, read) = jobs(GraftPq.readPqCodebook(spark, ivf))
      assert(read.size == 1, s"readPqCodebook: one collect, got $read")
      val (again, reread) = jobs(GraftPq.readPqCodebook(spark, ivf))
      assert(reread.isEmpty,
        s"a repeat read of the same codebook files launched jobs: $reread")
      assert(cbRows(again) == cbRows(cb) && (again.m, again.ksub) == (4, 8))
      IvfObjectStore.append(spark, ivf, e.filter(col("vec_id") >= 80))
      val imp = s"s3a:$base/impact"
      ImpactObjectStore.rebuild(docs(), imp, buckets = 4)
      ImpactObjectStore.delete(spark, imp, Seq(1L, 2L).toDF("doc_id"))
      val ks = s"s3a:$base/ks"
      KeepSetStore.create(GraftDedup.keepSet(
        Seq(1L, 2L, 3L, 4L).toDF("doc_id"), Seq((1L, 2L)).toDF("a_id", "b_id")), ks)
      KeepSetStore.increment(spark, ks, Seq(5L).toDF("doc_id"),
                             Seq((3L, 5L)).toDF("a_id", "b_id"))
      KeepSetStore.delete(spark, ks, Seq(4L).toDF("doc_id"))

      val (_, built) = jobs {
        Seq(IvfObjectStore.read(spark, ivf).assigned,
            IvfObjectStore.readAt(spark, ivf, 1L).assigned,
            ImpactObjectStore.read(spark, imp).impacts,
            ImpactObjectStore.read(spark, imp).terms,
            ImpactObjectStore.readAt(spark, imp, 1L).impacts,
            KeepSetStore.read(spark, ks), KeepSetStore.readAt(spark, ks, 2L))
      }
      assert(built.isEmpty, s"building the read frames launched jobs: $built")
      // the frames are the snapshots: the appended rows and the masks show
      assert(IvfObjectStore.read(spark, ivf).assigned.count() == 120)
      assert(IvfObjectStore.readAt(spark, ivf, 1L).assigned.count() == 80)
      assert(ImpactObjectStore.read(spark, imp).impacts
               .filter(col("doc_id").isin(1L, 2L)).count() == 0)
      assert(KeepSetStore.read(spark, ks).select("doc_id").as[Long]
               .collect().toSet == Set(1L, 2L, 3L, 5L))

      val (_, local) = jobs(GraftPq.collectCodebook(cb))
      assert(local.isEmpty, s"collecting a stored codebook: $local")
      assert((cb.m, cb.ksub) == (4, 8))
      assert(GraftPq.readPqCodebookIfAny(spark, imp).isEmpty)
      // rewritten files (new names and statuses) are never served stale
      val cbDir = new Path(s"$ivf/pq_codebook")
      cbDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(cbDir, true)
      GraftPq.writePqCodebook(GraftPq.PqCodebook(
        cb.codebook.withColumn("cv", transform(col("cv"), x => x + 1.0)),
        cb.m, cb.ksub), ivf)
      val (fresh, rewritten) = jobs(GraftPq.readPqCodebook(spark, ivf))
      assert(rewritten.size == 1,
        s"the first read of rewritten codebook files: one collect, got " +
        rewritten)
      assert(cbRows(fresh) != cbRows(cb), "a stale codebook was served")
    }
  }

  test("create with a freshly trained codebook launches at most 2 jobs " +
       "more than create without one: the train and the codebook write") {
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 120)
      val idx = GraftSimilarity.buildIvfIndex(e)
      // a first create runs whatever the index frames cache, so the two
      // measured creates below pay the same for the index
      IvfObjectStore.create(spark, idx, s"s3a:$base/warm")
      val (_, plain) = jobs(IvfObjectStore.create(spark, idx, s"s3a:$base/plain"))
      val (_, withPq) = jobs(IvfObjectStore.create(spark, idx, s"s3a:$base/pq",
        pq = Some(GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2))))
      assert(withPq.size <= plain.size + 2,
        s"create: ${plain.size} jobs plain, ${withPq.size} with pq:\n" +
        withPq.mkString("\n"))
    }
  }

  test("an IVF snapshot past the parallel-discovery threshold reads with " +
       "no listing job; the file-list read it replaces lists in a job") {
    withMockS3 { base =>
      val threshold = spark.conf
        .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
      val e = vectors()
      val dir = s"s3a:$base/wide"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(
        e.filter(col("vec_id") < 100)), dir)
      var lo = 100
      def files = IvfObjectStore.currentManifest(fsOf(dir), dir).get.data
      while (files.size <= threshold && lo < 500) {
        IvfObjectStore.append(spark, dir,
          e.filter(col("vec_id") >= lo && col("vec_id") < lo + 100))
        lo += 100
      }
      val m = IvfObjectStore.currentManifest(fsOf(dir), dir).get
      assert(m.data.size > threshold, s"${m.data.size} files")
      val (idx, built) = jobs(IvfObjectStore.read(spark, dir))
      assert(built.isEmpty, s"read launched jobs: $built")
      val (n, ran) = jobs(idx.assigned.count())
      assert(n == lo)
      assert(!ran.exists(_.startsWith("Listing leaf files")), ran.toString)
      // the check above would see a listing: the path-list read does one
      val (_, old) = jobs(spark.read.option("basePath", s"$dir/data")
        .parquet(m.data.map(r => s"$dir/$r"): _*))
      assert(old.exists(_.startsWith("Listing leaf files")), old.toString)
    }
  }

  test("the manifest-store ANN serve still plans dynamic partition " +
       "pruning on the cell scan and reads only probed cells") {
    withMockS3 { base =>
      val e = spark.read.parquet(s"$sf001/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val dir = s"s3a:$base/dpp"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(e), dir)
      val stored = IvfObjectStore.read(spark, dir)
      val q = e.filter(col("vec_id") % 100 === 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val served = GraftSimilarity.ivfTopKWith(stored, q, k = 5)
      served.collect()
      val plan = GraftSqlBridge.queryExecution(served).executedPlan
      assert(plan.toString.contains("dynamicpruning"),
        s"cell scan must be dynamic-partition-pruned:\n$plan")
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: QueryStageExec => scans(s.plan)
        case f: FileSourceScanExec => Seq(f)
        case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
      }
      val total = IvfObjectStore.currentManifest(fsOf(dir), dir).get.data.size
      val read = scans(plan)
        .filter(_.relation.partitionSchema.fieldNames.contains("c_id"))
        .map(_.metrics("numFiles").value)
      assert(read.nonEmpty && read.max > 0 && read.max < total,
        s"files read $read of $total")
    }
  }

  test("parity: a snapshot mixing pre-PQ cell files with PQ ones deletes " +
       "and compacts to the rows of the mergeSchema read, the rewritten " +
       "cells' cw repaired to the PQ-from-birth encoding") {
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 150)
      val seed = e.filter(col("vec_id") < 90)
      val batch = e.filter(col("vec_id") >= 90)
      val idx = GraftSimilarity.buildIvfIndex(seed).persist()
      val cb = GraftPq.trainPq(seed, m = 4, ksub = 8)
      try {
        // the mixed store: created without PQ, codebook attached later,
        // so only the appended files carry cw
        val mixed = s"s3a:$base/mixed"
        IvfObjectStore.create(spark, idx, mixed)
        GraftPq.writePqCodebook(cb, mixed)
        IvfObjectStore.append(spark, mixed, batch)
        // its twin holds every row's code word from birth
        val twin = s"s3a:$base/twin"
        IvfObjectStore.create(spark, idx, twin, pq = Some(cb))
        IvfObjectStore.append(spark, twin, batch)
        val cw = IvfObjectStore.read(spark, twin).assigned
          .select(col("n_id"), col("cw").as("want")).persist()

        def mergeRead(dir: String) = {
          val m = IvfObjectStore.currentManifest(fsOf(dir), dir).get
          spark.read.option("basePath", s"$dir/data")
            .option("mergeSchema", "true")
            .parquet(m.data.map(r => s"$dir/$r"): _*)
            .withColumn("c_id", col("c_id").cast("long"))
            .withColumn("n_id", col("n_id").cast("long"))
        }
        val layout = Seq("n_id", "c_id", "v", "q8").map(col)
        // the manifest read and the mergeSchema read agree, cw included
        def agree(df: DataFrame): Unit =
          assert(rowSet(df) == rowSet(mergeRead(mixed).select(df.columns.map(col): _*)))
        val before = mergeRead(mixed)
        assert(before.filter(col("cw").isNull).count() == 90)
        // delete two rows of one cell: only that cell is rewritten, the
        // other cells keep their pre-PQ file beside the appended one
        val cell = before.orderBy("n_id").select("c_id").as[Long].head()
        val del = before.filter(col("c_id") === cell).orderBy("n_id")
          .select("n_id").as[Long].collect().take(2).toSeq
        val touched = Set(cell)
        assert(IvfObjectStore.delete(spark, mixed, del.toDF("vec_id")) == 1)
        val afterDel = IvfObjectStore.read(spark, mixed).assigned
        assert(afterDel.columns.contains("cw"))
        assert(rowSet(afterDel.select(layout: _*)) ==
               rowSet(before.filter(!col("n_id").isin(del: _*)).select(layout: _*)))
        agree(afterDel)
        def cwCheck(df: DataFrame, repaired: Long => Boolean): Unit = {
          val bad = df.join(cw, "n_id").collect().filter { r =>
            val got = r.getAs[Array[Byte]]("cw")
            val want = r.getAs[Array[Byte]]("want")
            if (repaired(r.getAs[Long]("c_id"))) got == null || !got.sameElements(want)
            else got != null && !got.sameElements(want)
          }
          assert(bad.isEmpty,
            s"${bad.length} rows with a wrong cw, first ${bad.headOption}")
        }
        cwCheck(afterDel, touched.contains)
        val multi = IvfObjectStore.currentManifest(fsOf(mixed), mixed).get.data
          .groupBy(IvfObjectStore.cellOf).filter(_._2.size > 1).keySet
        assert(multi.nonEmpty &&
               IvfObjectStore.compact(spark, mixed, maxFilesPerCell = 1) == multi.size)
        val afterCompact = IvfObjectStore.read(spark, mixed).assigned
        assert(rowSet(afterCompact.select(layout: _*)) ==
               rowSet(afterDel.select(layout: _*)))
        agree(afterCompact)
        cwCheck(afterCompact,
                c => touched.contains(c) || multi.contains(s"c_id=$c"))
        cw.unpersist()
      } finally idx.unpersist()
    }
  }

  /** A manifest as the earlier format (v1) wrote it: bare paths, no
    * schema lines. */
  private def earlierFormat(text: String): String = resealed(text) { ls =>
    (ls.head.replace(" v2", " v1") +: ls.tail)
      .filterNot(_.startsWith("schema "))
      .map(_.replaceAll("^(\\S+ \\S+\\.parquet) \\d+$", "$1"))
  }

  test("a manifest without lengths and schemas (the earlier format) reads " +
       "identically through the same scan, with no Spark job, and the " +
       "first write on top records what it lacked") {
    withMockS3 { base =>
      val e = vectors().filter(col("vec_id") < 120)
      val ivf = s"s3a:$base/ivf"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(
        e.filter(col("vec_id") < 80)), ivf)
      GraftPq.writePqCodebook(
        GraftPq.trainPq(e.filter(col("vec_id") < 80), m = 4, ksub = 8), ivf)
      IvfObjectStore.append(spark, ivf, e.filter(col("vec_id") >= 80))
      val imp = s"s3a:$base/impact"
      ImpactObjectStore.rebuild(docs(), imp, buckets = 4)
      ImpactObjectStore.delete(spark, imp, Seq(3L).toDF("doc_id"))
      val ks = s"s3a:$base/ks"
      KeepSetStore.create(GraftDedup.keepSet(
        Seq(1L, 2L, 3L).toDF("doc_id"), Seq((1L, 2L)).toDF("a_id", "b_id")), ks)
      KeepSetStore.increment(spark, ks, Seq(4L).toDF("doc_id"),
                             Seq((3L, 4L)).toDF("a_id", "b_id"))

      // republish each head as the next version in the earlier format
      val mi = IvfObjectStore.currentManifest(fsOf(ivf), ivf).get
      assert(mi.catalog.complete)
      val old = earlierFormat(mi.copy(version = mi.version + 1).render)
      assert(old.startsWith("graft-ivf-manifest v1\n") &&
             !old.contains("schema ") && !old.contains(".parquet "))
      publishRaw(ivf, mi.version + 1, old)
      assert(!IvfObjectStore.currentManifest(fsOf(ivf), ivf).get.catalog.complete)
      val mm = ImpactObjectStore.currentManifest(fsOf(imp), imp).get
      publishRaw(imp, mm.version + 1,
                 earlierFormat(mm.copy(version = mm.version + 1).render))
      val mk = KeepSetStore.currentManifest(fsOf(ks), ks).get
      publishRaw(ks, mk.version + 1,
                 earlierFormat(mk.copy(version = mk.version + 1).render))

      val (frames, built) = jobs {
        (IvfObjectStore.read(spark, ivf), ImpactObjectStore.read(spark, imp),
         KeepSetStore.read(spark, ks))
      }
      assert(built.isEmpty, s"earlier-format reads launched jobs: $built")
      val (ivfNow, impNow, ksNow) = frames
      // the footer-derived union schema is the recorded one (field order
      // follows the files met first): the mixed cells surface cw, null on
      // the pre-PQ files
      val ivfRecorded = IvfObjectStore.readAt(spark, ivf, mi.version).assigned
      assert(ivfNow.assigned.schema.toSet == ivfRecorded.schema.toSet)
      assert(rowSet(ivfNow.assigned) == rowSet(ivfRecorded))
      assert(ivfNow.assigned.filter(col("cw").isNull).count() == 80)
      val impRecorded = ImpactObjectStore.readAt(spark, imp, mm.version)
      assert(rowSet(impNow.impacts) == rowSet(impRecorded.impacts))
      assert(rowSet(impNow.terms) == rowSet(impRecorded.terms))
      assert(rowSet(ksNow) == rowSet(KeepSetStore.readAt(spark, ks, mk.version)))

      // the first write on an earlier-format head publishes a complete
      // manifest — every file's length, every family's schema — so later
      // reads take no footer read and no getFileStatus
      IvfObjectStore.append(spark, ivf,
        vectors().filter(col("vec_id").between(120, 139)))
      ImpactObjectStore.delete(spark, imp, Seq(5L).toDF("doc_id"))
      KeepSetStore.delete(spark, ks, Seq(2L).toDF("doc_id"))
      val next = IvfObjectStore.currentManifest(fsOf(ivf), ivf).get
      assert(next.catalog.complete && next.catalog.resolved(spark, ivf) == next.catalog)
      assert(next.catalog.families("data").schema.get.fieldNames.toSet ==
             mi.catalog.families("data").schema.get.fieldNames.toSet)
      assert(ImpactObjectStore.currentManifest(fsOf(imp), imp).get.catalog.complete)
      assert(KeepSetStore.currentManifest(fsOf(ks), ks).get.catalog.complete)
      val appended = IvfObjectStore.read(spark, ivf).assigned
      assert(appended.count() == 140)
      assert(appended.filter(col("cw").isNull).count() == 80)
      assert(KeepSetStore.read(spark, ks).select("doc_id").as[Long]
               .collect().toSet == Set(1L, 3L, 4L))
    }
  }

  test("a manifest whose checksum holds but whose content this build " +
       "cannot read fails loudly, and a writer never heals it as torn") {
    withMockS3 { base =>
      val dir = s"s3a:$base/ahead"
      IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(
        vectors().filter(col("vec_id") < 60)), dir)
      val m = IvfObjectStore.currentManifest(fsOf(dir), dir).get
      val newer = resealed(m.copy(version = 2).render)(ls =>
        ls.head.replace(" v2", " v3") +: ls.tail :+ "sketch data/x 1")
      publishRaw(dir, 2L, newer)
      // older than the torn grace: a torn file would be deleted now
      new java.io.File(s"$base/ahead/manifests/v${"%020d".format(2L)}.manifest")
        .setLastModified(System.currentTimeMillis() -
                         ManifestLog.TornManifestGraceMs - 1000)
      for (op <- Seq[() => Any](
             () => IvfObjectStore.read(spark, dir),
             () => IvfObjectStore.append(spark, dir,
                     vectors().filter(col("vec_id").between(60, 69)))))
        intercept[ManifestStoreException](op())
      assert(fsOf(dir).exists(new Path(f"$dir/manifests/v${2L}%020d.manifest")))
      // an unknown line under the current header is refused the same way
      val odd = resealed(m.render)(_ :+ "sketch data/x 1")
      intercept[ManifestStoreException](
        IvfObjectStore.parseManifest(odd))
      // while a torn one (trailer cut) is only skipped
      assert(IvfObjectStore.parseManifest(m.render.dropRight(10)).isEmpty)
      assert(IvfObjectStore.parseManifest(m.render).contains(m))
    }
  }
}
