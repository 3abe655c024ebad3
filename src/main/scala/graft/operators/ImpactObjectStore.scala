package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import ImpactIndex.StoredImpacts
import IvfObjectStore.{ManifestConflict, ManifestStoreException}

/** The OBJECT-STORE layout of the at-rest BM25 impact index — the lexical
  * twin of [[IvfObjectStore]] (VERDICT r14 missing #2: the directory-layout
  * [[ImpactIndex]] gates on the rename-commit filesystem contract, so an
  * S3-class deployment could serve vectors but not BM25). Same substrate
  * guarantees, restated briefly (the full argument lives on
  * [[IvfObjectStore]]'s class doc):
  *
  *   - **no rename**: bucket/summary files are written once, directly to
  *     their final keys, by [[ManifestCommitProtocol]]; mutation =
  *     publishing a new immutable manifest version listing the live set;
  *   - **no listing consistency**: readers resolve state from the manifest
  *     chain (writers learn their own files from task commit messages),
  *     and take every file's length and schema from it — the only
  *     listing a read makes finds the newest manifest, and a lagging one
  *     serves a slightly stale COMPLETE snapshot;
  *   - **torn-manifest safety**: SHA-256 trailer; an invalid manifest is
  *     skipped and the previous version serves.
  *
  * Mutations are [[rebuild]] and [[delete]] — the honest BM25 lifecycle
  * ([[ImpactIndex]]'s scaladoc: every addend bakes in global df/N/avgdl,
  * so any corpus change invalidates all of them; an append could only
  * serve silently-stale scores). Rebuild publishes v+1 referencing only
  * the new files (no tombstones — it IS the purge); [[delete]] is the
  * takedown path (VERDICT r15 missing #1) — an O(ids) doc-tombstone
  * sliver every serve masks IMMEDIATELY, df/N intentionally stale until
  * the next rebuild (the IVF mask-until-purge stance). Plus read,
  * time-travel ([[readAt]]/[[versions]]) and [[vacuum]]. Concurrent
  * rebuilds serialize optimistically on the version slot; the loser's
  * staged files are corpus-content (chain-independent), so its retry
  * re-publishes the SAME files under the next slot — no re-stage.
  *
  * Layout under `dir`:
  * {{{
  *   manifests/v<20-digit>.manifest      immutable; carries k1/b/buckets
  *   impacts/__bkt=<b>/<file>.parquet    immutable, term-bucketed,
  *                                       __term-sorted within files
  *   terms/<file>.parquet                (__term, __df, __maxa) summary
  *   tombstones/<file>.parquet           (doc_id) delete slivers
  * }}}
  * Besides `version`, `k1`, `b`, `buckets` and `tag` lines, a manifest
  * (format `graft-impact-manifest v2`) holds one `schema
  * impact|term|tomb <json>` line per file family and one
  * `impact|term|tomb <path> <bytes>` line per live file, from which
  * [[ManifestCatalog]] plans every read without a Spark job. A v1
  * manifest (bare paths, no schema lines) still reads, and the next
  * write records what it lacked; the format only goes forward, so never
  * downgrade graft on a store or mix writer versions on one (see
  * [[ManifestCatalog$]]). The
  * `__bkt=` partition form is kept so a manifest-driven read
  * (`basePath` + explicit file list) plans the same literal bucket-pruned
  * scan as the directory store — [[ImpactIndex.StoredImpacts.impactsFor]]
  * and both serve paths ([[ImpactIndex.bm25TopKStored]] /
  * [[ImpactIndex.bm25TopKPruned]]) run VERBATIM on either substrate.
  *
  * Scale: one manifest line per live file — `buckets` impact files plus a
  * handful of summary files after each rebuild, driver-trivial text read
  * once per serving session. Old versions stay readable until [[vacuum]]
  * ages them out (the refresh-cadence knob: yesterday's idf snapshot
  * serves while today's builds, and the publish flips readers atomically).
  */
object ImpactObjectStore {

  private val Format = "graft-impact-manifest"
  private val NoFiles = ManifestCatalog("impact", "term", "tomb")

  private[graft] final case class ImpactManifest(version: Long, k1: Double,
                                                 b: Double, buckets: Int,
                                                 tags: Seq[String] = Nil,
                                                 catalog: ManifestCatalog =
                                                   NoFiles) {
    def impacts: Seq[String] = catalog.files("impact")
    def terms: Seq[String] = catalog.files("term")
    def tombs: Seq[String] = catalog.files("tomb")

    def render: String = ManifestCatalog.render(Format,
      Seq(s"version $version", s"k1 $k1", s"b $b", s"buckets $buckets") ++
        tags.sorted.map("tag " + _), catalog)

    /** Lengths and schemas of an earlier-format manifest filled in, so a
      * writer publishes a complete one ([[ManifestCatalog.resolved]]). */
    def resolved(spark: SparkSession, dir: String): ImpactManifest =
      copy(catalog = catalog.resolved(spark, dir))
  }

  /** Parse + integrity-check one manifest body; None if torn, a throw if
    * its checksum holds but this build cannot read it. */
  private[graft] def parseManifest(text: String): Option[ImpactManifest] = {
    var version = -1L; var k1 = Double.NaN; var b = Double.NaN
    var buckets = -1
    val tags = Seq.newBuilder[String]
    ManifestCatalog.parse(text, Format, NoFiles) {
      case ("version", v) => version = v.toLong
      case ("k1", v) => k1 = v.toDouble
      case ("b", v) => b = v.toDouble
      case ("buckets", v) => buckets = v.toInt
      case ("tag", t) => tags += t
    }.map { cat =>
      if (version < 1 || k1.isNaN || b.isNaN || buckets < 1)
        throw ManifestCatalog.unreadable(Format, "missing version/k1/b/buckets")
      ImpactManifest(version, k1, b, buckets, tags.result(), cat)
    }
  }

  private[graft] def currentManifest(fs: FileSystem,
                                     dir: String): Option[ImpactManifest] = {
    val root = new Path(s"$dir/manifests")
    if (!fs.exists(root)) return None
    fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .sortBy(_.getPath.getName)(Ordering[String].reverse)
      .iterator
      .flatMap(f => parseManifest(IvfObjectStore.readFully(fs, f.getPath)))
      .nextOption()
  }

  private def publish(fs: FileSystem, dir: String,
                      m: ImpactManifest): Boolean = {
    val p = new Path(f"$dir/manifests/v${m.version}%020d.manifest")
    fs.mkdirs(p.getParent)
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException => return false }
    try out.write(m.render.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    true
  }

  /** Same torn-slot healing as the vector twin: a version file that fails
    * its checksum and is older than the grace was left by a dead writer
    * and squats on the slot — delete it so the next publish can land. */
  private def healTorn(fs: FileSystem, dir: String, version: Long): Unit = {
    val p = new Path(f"$dir/manifests/v$version%020d.manifest")
    try {
      val st = fs.getFileStatus(p)
      if (st.getModificationTime < System.currentTimeMillis() -
            IvfObjectStore.TornManifestGraceMs &&
          parseManifest(IvfObjectStore.readFully(fs, p)).isEmpty)
        fs.delete(p, false)
    } catch { case _: java.io.FileNotFoundException => }
  }

  /** (Re)build the store from `docs` and publish it as the next manifest
    * version — v1 on an empty dir, v+1 over an existing chain, in either
    * case referencing ONLY the files this build staged (rebuild IS the
    * overwrite; earlier versions keep serving their own files until
    * [[vacuum]]). The addends come from the shared ungated kernel
    * ([[TextRank.bm25Impacts]]) exactly as [[ImpactIndex.write]] — same
    * bucket key, same file-level __term sort, same summary — so at-rest
    * bytes are bit-equal across the two layouts and the
    * `text_bm25_topk` oracle certifies the serve verbatim. Returns the
    * published version.
    */
  def rebuild(docs: org.apache.spark.sql.DataFrame, dir: String,
              idCol: String = "doc_id", textCol: String = "text",
              k1: Double = 1.2, b: Double = 0.75,
              buckets: Int = 64): Long = {
    require(buckets >= 1,
      s"ImpactObjectStore.rebuild: buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    val fs = IvfObjectStore.fsOf(spark, dir)
    val imp = TextRank.bm25Impacts(
        docs.select(col(idCol).cast("long").as("doc_id"), col(textCol)),
        "doc_id", textCol, k1, b, termGate = None)
      .withColumn("__bkt",
                  pmod(xxhash64(col("__term")), lit(buckets.toLong))
                    .cast("int"))
    // ScaleHints.writeWidth: one file per bucket either way; a small
    // store stages from session-width tasks instead of one (see the
    // ImpactIndex.write twin)
    val impWide = ScaleHints.writeWidth(imp, col("__bkt"))
      .sortWithinPartitions("__bkt", "__term", "doc_id")
    val impStaged = IvfObjectStore.writeVia(impWide, s"$dir/impacts",
      Seq("__bkt")).under("impacts")
    val staged = NoFiles.add("impact", impStaged)
    // the per-term bound table aggregates the WRITTEN bytes (one at-rest
    // scan of exactly the staged files), as on the directory layout
    val termsDf =
      if (impStaged.files.isEmpty) emptyTerms(spark)
      else staged.scan(spark, dir, Seq("impact"), Some(s"$dir/impacts"))
        .groupBy("__term")
        .agg(count(lit(1)).as("__df"), max(col("__a")).as("__maxa"))
    val termStaged = IvfObjectStore.writeVia(termsDf, s"$dir/terms", Nil)
      .under("terms")
    val catalog = staged.add("term", termStaged)
    var attempt = 0
    while (attempt < IvfObjectStore.PublishRetries) {
      val next = currentManifest(fs, dir).map(_.version + 1).getOrElse(1L)
      val m = ImpactManifest(next, k1, b, buckets, catalog = catalog)
      if (publish(fs, dir, m)) return next
      // staged files are corpus content — chain-independent — so the
      // retry re-publishes the same set under the advanced slot
      healTorn(fs, dir, next)
      IvfObjectStore.publishBackoff(attempt)
      attempt += 1
    }
    throw new ManifestConflict(
      s"ImpactObjectStore.rebuild: lost the publish race " +
      s"${IvfObjectStore.PublishRetries} times on $dir — serialize " +
      "rebuilds or raise retries")
  }

  /** Mask documents out of the served index — the takedown/opt-out path
    * (VERDICT r15 missing #1), the directory-IVF tombstone contract
    * applied to the lexical store: publish a manifest version whose
    * tombstone list gains one O(ids) sliver file; every [[read]]/
    * [[readAt]] of that version drops the tombstoned docs' postings
    * IMMEDIATELY, while surviving docs' scores stay bit-identical (each
    * addend bakes in global df/N/avgdl — the mask intentionally leaves
    * those STALE, exactly the IVF mask-until-purge stance; the per-term
    * `__maxa` upper bounds also stay stale, which keeps them VALID
    * bounds for [[ImpactIndex.bm25TopKPruned]]'s covering guard — it
    * can only over-refuse, never under-prune). [[rebuild]] over the
    * reduced corpus is the purge that restores exact statistics — the
    * new manifest references only its own files and carries no
    * tombstones. Earlier versions keep serving pre-delete snapshots
    * ([[readAt]]) until [[vacuum]] ages them out — the compliance knob.
    *
    * `batchTag` gives replays idempotence (the [[IvfObjectStore.delete]]
    * grammar): a tag already in the manifest no-ops before any work. A
    * delete racing a rebuild masks its ids in whichever snapshot it
    * publishes against — for a takedown, over-masking a just-rebuilt doc
    * is the safe direction (the next rebuild purges). Returns the
    * published version (the current one on a tag replay).
    */
  def delete(spark: SparkSession, dir: String,
             ids: org.apache.spark.sql.DataFrame,
             idCol: String = "doc_id",
             batchTag: Option[String] = None): Long = {
    batchTag.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"batchTag '$t' must match [A-Za-z0-9_]+ (silent sanitization " +
      "could collide two tags)"))
    val fs = IvfObjectStore.fsOf(spark, dir)
    val pre = currentManifest(fs, dir).getOrElse(
      throw new ManifestStoreException(
        s"ImpactObjectStore.delete: no valid manifest under $dir"))
    if (batchTag.exists(pre.tags.contains)) return pre.version
    // one O(ids) sliver, staged once — chain-independent content, so a
    // publish-conflict retry re-lists the SAME file under the next slot
    val tombStaged = IvfObjectStore.writeVia(
      ids.select(col(idCol).cast("long").as("doc_id")).distinct(),
      s"$dir/tombstones", Nil).under("tombstones")
    var attempt = 0
    while (attempt < IvfObjectStore.PublishRetries) {
      val m = currentManifest(fs, dir).getOrElse(
        throw new ManifestStoreException(
          s"ImpactObjectStore.delete: manifest chain vanished under $dir"))
        .resolved(spark, dir)
      if (batchTag.exists(m.tags.contains)) return m.version
      val next = m.version + 1
      if (publish(fs, dir, m.copy(version = next, tags = m.tags ++ batchTag,
                                  catalog = m.catalog.add("tomb", tombStaged))))
        return next
      healTorn(fs, dir, next)
      IvfObjectStore.publishBackoff(attempt)
      attempt += 1
    }
    throw new ManifestConflict(
      s"ImpactObjectStore.delete: lost the publish race " +
      s"${IvfObjectStore.PublishRetries} times on $dir — serialize " +
      "committers or raise retries")
  }

  /** All valid manifest versions still on disk, ascending — the
    * time-travel window (every version is a complete immutable snapshot;
    * [[vacuum]] bounds it). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = IvfObjectStore.fsOf(spark, dir)
    val root = new Path(s"$dir/manifests")
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .flatMap(f => parseManifest(IvfObjectStore.readFully(fs, f.getPath)))
      .map(_.version).toSeq.sorted
  }

  /** Serve the snapshot as of manifest `version` — yesterday's idf, if
    * yesterday is still inside the vacuum window. */
  def readAt(spark: SparkSession, dir: String, version: Long)
      : StoredImpacts = {
    val fs = IvfObjectStore.fsOf(spark, dir)
    val p = new Path(f"$dir/manifests/v$version%020d.manifest")
    val m = (if (fs.exists(p))
               parseManifest(IvfObjectStore.readFully(fs, p))
             else None)
      .getOrElse(throw new ManifestStoreException(
        s"ImpactObjectStore.readAt: no valid manifest v$version under " +
        s"$dir — readable versions: ${versions(spark, dir).mkString(", ")}"))
    load(spark, dir, m)
  }

  /** Streaming opt-out twin of [[delete]] (r16 — the
    * [[IvfObjectStore.deleteStream]] contract on the lexical store): an
    * unbounded stream of doc ids drains into tagged tombstone-mask
    * versions, one per micro-batch (`<streamId>_d<batchId>`), so a
    * checkpoint replay no-ops on the manifest's tag set and every
    * opted-out doc's postings stop serving at the NEXT read after its
    * batch commits — takedown latency is one micro-batch, the purge
    * remains [[rebuild]] on its own cadence. */
  def deleteStream(dir: String, ids: org.apache.spark.sql.DataFrame,
                   streamId: String, idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] = {
    require(streamId.matches("[A-Za-z0-9_]+"),
      s"streamId '$streamId' must match [A-Za-z0-9_]+ (it prefixes the " +
      "store's idempotency tags)")
    graft.GraftSession.ensureExtensions(ids.sparkSession)
    ids.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        delete(batch.sparkSession, dir, batch.select(col(idCol)), idCol,
               batchTag = Some(s"${streamId}_d$batchId"))
        ()
    }
  }

  /** Load the live snapshot as a [[ImpactIndex.StoredImpacts]] handle —
    * the SAME serve surface as the directory layout, so
    * `bm25TopKStored` / `bm25TopKPruned` / `impactsFor` run verbatim. */
  def read(spark: SparkSession, dir: String): StoredImpacts = {
    val fs = IvfObjectStore.fsOf(spark, dir)
    val m = currentManifest(fs, dir).getOrElse(
      throw new ManifestStoreException(
        s"ImpactObjectStore.read: no valid manifest under $dir"))
    load(spark, dir, m)
  }

  private def emptyImpacts(spark: SparkSession) =
    spark.range(0).select(lit("").as("__term"), col("id").as("doc_id"),
                          col("id").as("__a"), lit(0).as("__bkt"))

  private def emptyTerms(spark: SparkSession) =
    spark.range(0).select(lit("").as("__term"), col("id").as("__df"),
                          col("id").as("__maxa"))

  private def load(spark: SparkSession, dir: String,
                   m: ImpactManifest): StoredImpacts = {
    // explicit manifest file lists; basePath keeps __bkt as a partition
    // column so impactsFor's literal bucket predicates still prune files
    val impacts =
      if (m.impacts.isEmpty) emptyImpacts(spark)
      else m.catalog.scan(spark, dir, Seq("impact"), Some(s"$dir/impacts"))
        .withColumn("__bkt", col("__bkt").cast("int"))
        .withColumn("doc_id", col("doc_id").cast("long"))
    val terms =
      if (m.terms.isEmpty) emptyTerms(spark)
      else m.catalog.scan(spark, dir, Seq("term"))
    // tombstone mask ([[delete]]): drop deleted docs' postings at serve.
    // The anti join's filter-side is the O(ids) sliver (gated broadcast);
    // impactsFor's __bkt/__term literals push through the join's left
    // side, so the scan stays bucket-pruned
    val masked =
      if (m.tombs.isEmpty) impacts
      else impacts.join(
        ScaleHints.gated(
          m.catalog.scan(spark, dir, Seq("tomb"))
            .select(col("doc_id").cast("long").as("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
    StoredImpacts(masked, terms, m.buckets, m.k1, m.b)
  }

  /** Delete data objects NO surviving manifest references and that are
    * older than `olderThanMs` (orphans of crashed/raced builds, files of
    * superseded rebuilds, applied tombstone slivers), plus superseded
    * manifest versions past the bound — the time-travel retention knob.
    * The manifest sweep runs FIRST, and the live set is the union over
    * every manifest that remains readable (ADVICE r15: sweeping data by
    * the current manifest alone could delete a file a retained older
    * manifest still serves — staging time precedes publish time — making
    * [[readAt]] advertise a version whose data is gone). Returns objects
    * deleted. */
  def vacuum(spark: SparkSession, dir: String, olderThanMs: Long): Int = {
    require(olderThanMs > 0, s"olderThanMs must be positive: $olderThanMs")
    val fs = IvfObjectStore.fsOf(spark, dir)
    val cur = currentManifest(fs, dir).getOrElse(
      throw new ManifestStoreException(
        s"ImpactObjectStore.vacuum: no valid manifest under $dir"))
    val cutoff = System.currentTimeMillis() - olderThanMs
    var deleted = 0
    val mRoot = new Path(s"$dir/manifests")
    for (st <- fs.listStatus(mRoot)
           if st.isFile && st.getModificationTime < cutoff &&
              st.getPath.getName.matches("v\\d{20}\\.manifest") &&
              st.getPath.getName < f"v${cur.version}%020d.manifest") {
      fs.delete(st.getPath, false); deleted += 1
    }
    val live: Set[String] = fs.listStatus(mRoot)
      .filter(f => f.isFile &&
                   f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .flatMap(f => parseManifest(IvfObjectStore.readFully(fs, f.getPath)))
      .flatMap(m => m.impacts ++ m.terms ++ m.tombs)
      .toSet
    val root = new Path(dir)
    def sweep(sub: String): Unit = {
      val p = new Path(root, sub)
      if (!fs.exists(p)) return
      for (st <- fs.listStatus(p)) {
        if (st.isDirectory) sweep(s"$sub/${st.getPath.getName}")
        else if (st.getModificationTime < cutoff) {
          val rel = s"$sub/${st.getPath.getName}"
          if (!live.contains(rel)) {
            fs.delete(st.getPath, false); deleted += 1
          }
        }
      }
    }
    sweep("impacts"); sweep("terms"); sweep("tombstones")
    deleted
  }
}
