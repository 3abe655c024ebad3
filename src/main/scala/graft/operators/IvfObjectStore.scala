package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import GraftSimilarity.IvfIndex
import ManifestLog.{Publish, Unchanged, writeVia}

/** The OBJECT-STORE layout of the at-rest IVF index: a store on the
  * [[ManifestLog]], whose scaladoc gives the substrate argument (no
  * rename, no listing consistency, torn-manifest fallback, the optimistic
  * version race, crash windows, the format rule). Mutations are
  * [[append]], [[compact]] and [[delete]]; [[readAt]]/[[versions]] time
  * travel and [[vacuum]] bounds the window.
  *
  * Layout under `dir`:
  * {{{
  *   manifests/v<20-digit>.manifest   immutable, SHA-256 trailer
  *   centroids/<file>.parquet         immutable data objects
  *   data/c_id=<cell>/<file>.parquet  immutable, cell-partitioned
  *   pq_codebook/<file>.parquet       PQ stores only, written once
  * }}}
  * A manifest (format `graft-ivf-manifest v2`) holds `version`, one
  * `tag` line per batch tag, one `schema centroid|data <json>` line per
  * file family (the union schema of the family's files) and one
  * `centroid|data <path> <bytes>` line per live file; [[ManifestCatalog]]
  * plans every read from those lines alone. A v1 manifest (bare paths,
  * no schema lines) still reads, from footers and `getFileStatus` on the
  * driver, and the next write records what it lacked. Two listings are
  * left on the serving path: the newest manifest and a PQ store's
  * `pq_codebook/` directory, written once at create and never changed.
  * The `data/` keys keep the `c_id=` partition form so a manifest-driven
  * read (`basePath` + explicit file list) yields the same cell-pruned
  * scan shape — dynamic partition pruning included — as the directory
  * store.
  *
  * Scale: the manifest holds one line per live file — with compaction
  * keeping ~1 file per cell that is √N lines (~31k at 1e9 vectors, ~2 MB
  * of text), a driver-trivial object, and serving reads it once per
  * session. Appends cost one manifest rewrite each; batch sizes at 100 TB
  * ingest are minutes apart, not per-record.
  */
object IvfObjectStore extends ManifestStore {
  type M = Manifest

  protected val name = "IvfObjectStore"
  protected val format = "graft-ivf-manifest"
  protected val noFiles: ManifestCatalog = ManifestCatalog("centroid", "data")
  protected val dataRoots = Seq("centroids", "data")

  private[graft] final case class Manifest(
      version: Long, tags: Set[String], catalog: ManifestCatalog = noFiles)
      extends ManifestEntry {
    protected def format: String = IvfObjectStore.format
    def centroids: Seq[String] = catalog.files("centroid")
    def data: Seq[String] = catalog.files("data")

    def centroidScan(spark: SparkSession, dir: String): DataFrame =
      catalog.scan(spark, dir, Seq("centroid"))
        .withColumn("c_id", col("c_id").cast("long"))

    /** The live data files passing `only`, with `c_id` from the partition
      * directories; columns a file lacks read null. */
    def dataScan(spark: SparkSession, dir: String,
                 only: String => Boolean = _ => true): DataFrame =
      catalog.scan(spark, dir, Seq("data"), Some(s"$dir/data"), only)
        .withColumn("c_id", col("c_id").cast("long"))
        .withColumn("n_id", col("n_id").cast("long"))
  }

  protected def build(version: Long, tags: Set[String],
                      fields: Map[String, String],
                      catalog: ManifestCatalog): Manifest =
    Manifest(version, tags, catalog)

  // same at-rest shape as the directory layout (GraftSimilarity
  // .storedLayout): q8 serving column + n_id-sorted cell files (plus the
  // PQ code word when the store carries a codebook), so ivfTopKWithQ8 /
  // ivfPqTopKWithCw serve either substrate identically
  private def stageAssigned(dir: String, assigned: DataFrame,
                            pq: Option[GraftPq.PqCodebook],
                            q4: Boolean = false,
                            b1: Boolean = false): Staged =
    writeVia(GraftSimilarity.storedLayout(
               pq.map(GraftPq.withCw(_, assigned)).getOrElse(assigned),
               q4, b1),
             s"$dir/data", Seq("c_id")).under("data")

  /** Create the store: stage centroid + assigned objects, publish
    * manifest v1. Refuses a dir that already has a manifest chain.
    * With `pq` the staged cell files also carry the m-byte PQ code word
    * (`cw` — the [[GraftPq.ivfPqTopKWithCw]] serving tier) and the
    * codebook persists at `$dir/pq_codebook` AFTER the v1 publish wins
    * (a lost create race must not leave a stray codebook that would
    * poison the winner's appends); every later append encodes against
    * it inline — appends never retrain. */
  def create(spark: SparkSession, index: IvfIndex, dir: String,
             pq: Option[GraftPq.PqCodebook] = None,
             q4: Boolean = false,
             b1: Boolean = false): Unit = {
    graft.GraftSession.ensureExtensions(spark)
    // persist the codebook across its two consumers here (folded-encode
    // collect + the at-rest write) — it is typically a LAZY train chain
    // that would otherwise run Lloyd twice
    val pqP = pq.map(_.persist())
    try {
      startChain(spark, dir) {
        val cents = writeVia(index.centroids.select(
            col("c_id").cast("long").as("c_id"), col("cv")),
          s"$dir/centroids", Nil).under("centroids")
        // metadata columns (anything beyond the layout set, incl. an
        // already-attached q8/q4) ride into the staged cell objects — the
        // filter columns of ivfTopKWith(where = ...) over this substrate
        val meta = GraftSimilarity.metaColsOf(index.assigned.columns.toSeq)
        val data = stageAssigned(dir, index.assigned.select(
          col("n_id").cast("long").as("n_id") +: col("v") +:
            col("c_id").cast("long").as("c_id") +: meta.map(col): _*), pqP,
          q4, b1)
        Manifest(1, Set.empty, noFiles.add("centroid", cents).add("data", data))
      }
      pqP.foreach(GraftPq.writePqCodebook(_, dir))
    } finally pqP.foreach(_.unpersist())
  }

  /** Time-travel read: serve the snapshot as of manifest `version`.
    * Throws if that version is invalid or already vacuumed (see
    * [[versions]] for what is still readable). */
  def readAt(spark: SparkSession, dir: String, version: Long): IvfIndex =
    loadIndex(spark, dir, at(spark, dir, version))

  /** Load the live snapshot. The assigned frame is read from the
    * manifest's EXPLICIT file list (basePath keeps the `c_id=` partition
    * column), so unreferenced/orphaned objects are invisible by
    * construction; the manifest's lengths and schemas plan the scan, so
    * building the frames launches no Spark job. */
  def read(spark: SparkSession, dir: String): IvfIndex =
    loadIndex(spark, dir, head(spark, dir))

  private def loadIndex(spark: SparkSession, dir: String,
                        m: Manifest): IvfIndex = {
    val cents = m.centroidScan(spark, dir)
    val assigned =
      if (m.data.isEmpty)
        cents.limit(0).select(col("c_id").as("n_id"),
                              col("cv").as("v"), col("c_id"))
      else m.dataScan(spark, dir)
    IvfIndex(cents, assigned)
  }

  /** Append a batch: assign against the manifest's (immutable) centroids,
    * stage the cell files, publish `v+1 = live ∪ staged`. `batchTag`
    * gives streaming replays idempotence — a tag already recorded in the
    * manifest no-ops BEFORE any work. On a publish conflict the append
    * re-reads the chain and retries; its staged files stay valid because
    * assignment depends only on the centroid list, which append/compact
    * never change — if a concurrent REWRITE changed centroids, the
    * retry re-stages (orphans go to [[vacuum]]).
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "v",
             batchTag: Option[String] = None): Unit = {
    // same convention as GraftSimilarity's public entry points: a fresh
    // ingest-daemon session that only reads + appends must still resolve
    // graft_cosine inside assignTo
    graft.GraftSession.ensureExtensions(spark)
    // PQ stores auto-encode arriving batches against the stored codebook
    // (fixed immutable path, checked once per append — never retrained)
    val pq = GraftPq.readPqCodebookIfAny(spark, dir)
    var staged: Staged = null
    var stagedAgainst: Seq[String] = null
    commit(spark, dir, "append", unchanged = _ => (), tag = batchTag) { m =>
      if (staged == null || stagedAgainst != m.centroids) {
        val cents = m.centroidScan(spark, dir)
        // a metadata-carrying store appends metadata-carrying batches —
        // derive the store's metadata set from the snapshot's data
        // schema (the manifest's), fail-loud if the batch lacks any
        // column (the same contract as the directory layout's
        // appendIvfStore)
        val snapCols =
          if (m.data.isEmpty) Nil else m.dataScan(spark, dir).columns.toSeq
        val meta = GraftSimilarity.metaColsOf(snapCols)
        GraftSimilarity.requireMetaCols(meta, batch.columns.toSeq,
                                        "IvfObjectStore.append")
        staged = stageAssigned(dir, GraftSimilarity.assignTo(
          cents, batch.select(
            col(idCol).cast("long").as("n_id") +: col(vecCol).as("v") +:
              meta.map(col): _*)), pq,
          // appended objects match the snapshot's quantized-tier set —
          // mixed q4/b1 presence across one snapshot's files would break
          // the shared-schema invariant the reads rely on
          q4 = snapCols.contains("q4"), b1 = snapCols.contains("b1"))
        stagedAgainst = m.centroids
      }
      Publish(m.copy(catalog = m.catalog.add("data", staged)), ())
    }
  }

  /** Cell rewrites a [[compact]] or [[delete]] staged across its commit
    * attempts: per cell, the exact live file set it rewrote and the files
    * it wrote. A retry keeps the rewrite of every cell whose live files
    * did not change. */
  private final class CellRewrites(spark: SparkSession, dir: String) {
    private var byCell = Map.empty[String, (Set[String], Seq[String])]
    private var stages = Seq.empty[Staged]

    /** Stage the `targets` cells not yet staged against their current
      * files: `rewrite` turns those cells' rows into the rows to write. */
    def stage(m: Manifest, targets: Map[String, Seq[String]])(
        rewrite: DataFrame => DataFrame): Unit = {
      val toStage = targets.filter { case (cell, files) =>
        !byCell.get(cell).exists(_._1 == files.toSet)
      }
      if (toStage.nonEmpty) {
        // pq = None: cw (when present) rides through / was just repaired
        // and must not re-encode through the stage augment
        val staged = stageAssigned(dir,
          rewrite(m.dataScan(spark, dir, toStage.values.flatten.toSet)), None)
        stages :+= staged
        val newByCell = staged.files.groupBy(cellOf)
        byCell ++= toStage.map { case (cell, live) =>
          cell -> (live.toSet, newByCell.getOrElse(cell, Seq.empty))
        }
      }
    }

    /** `m`'s catalog with the `targets` cells' files swapped for their
      * rewrites — keeping any file that landed in a target cell after its
      * stage: a concurrent append, a later write that wins. */
    def catalog(m: Manifest, targets: Map[String, Seq[String]]): ManifestCatalog =
      m.catalog.replace("data",
        m.data.filterNot(f => targets.contains(cellOf(f))) ++
          targets.toSeq.flatMap { case (cell, files) =>
            val (rewrote, wrote) = byCell(cell)
            wrote ++ files.filterNot(rewrote)
          },
        stages)
  }

  /** Compact cells holding more than `maxFilesPerCell` live files: their
    * rows are rewritten into one object per cell and the next manifest
    * swaps the old file entries for the new — the old objects stay on
    * disk, unreferenced, until [[vacuum]]. Cost ∝ oversized cells' bytes.
    * No locks: a concurrent append only ever ADDS files, and the
    * conflict retry re-reads the chain, re-filters to cells still
    * oversized, and keeps already-staged rewrites for cells whose file
    * set did not change. Returns cells compacted.
    */
  def compact(spark: SparkSession, dir: String,
              maxFilesPerCell: Int = 4): Int = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    // the rewrite repairs null code words when the store carries a
    // codebook (the manifest's union schema surfaces the column across
    // generations) — compaction doubles as the PQ migration path, as on
    // the directory layout
    val pq = GraftPq.readPqCodebookIfAny(spark, dir)
    val rewrites = new CellRewrites(spark, dir)
    commit(spark, dir, "compact", unchanged = _ => 0) { m =>
      val oversized = m.data.groupBy(cellOf).filter(_._2.length > maxFilesPerCell)
      if (oversized.isEmpty) Unchanged
      else {
        rewrites.stage(m, oversized)(
          merged => pq.map(GraftPq.repairCw(_, merged)).getOrElse(merged))
        Publish(m.copy(catalog = rewrites.catalog(m, oversized)), oversized.size)
      }
    }
  }

  /** Delete rows by id — the takedown/opt-out path (VERDICT r11 missing
    * #1), as the layout's natural mutation: publish a manifest version in
    * which every cell file holding a deleted row is replaced by a sliver
    * rewritten WITHOUT those rows. Untouched cells' files are never
    * rewritten (cost ∝ touched cells' bytes, located by one column-pruned
    * (n_id, c_id) scan semi-joined with the delete list); the old objects
    * stay on disk unreferenced until [[vacuum]], and earlier manifest
    * versions still serve the pre-delete snapshots ([[readAt]] —
    * time-travel is bounded by the vacuum window, which is exactly the
    * compliance knob: vacuum past the retention deadline makes the bytes
    * unrecoverable). Scope: the delete covers rows live in the snapshot
    * it publishes against — a row appended CONCURRENTLY (or later) with a
    * deleted id is a later write and wins, the standard snapshot-log
    * semantics; re-run the delete to cover it. On a publish conflict the
    * pass re-reads the chain and re-targets, keeping staged rewrites for
    * cells whose live file set did not change (the [[compact]] retry
    * shape). Returns cells rewritten (0 when no live row matches).
    *
    * `batchTag` gives replays idempotence exactly like [[append]]'s: a
    * tag already in the manifest no-ops BEFORE any work (the tag is
    * recorded only when the delete actually publishes — a no-match
    * delete is naturally idempotent and records nothing).
    * [[deleteStream]] is the streaming opt-out twin built on it.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "vec_id",
             batchTag: Option[String] = None): Int = {
    graft.GraftSession.ensureExtensions(spark)
    val del = ids.select(col(idCol).cast("long").as("n_id")).distinct()
    val pq = GraftPq.readPqCodebookIfAny(spark, dir)
    val rewrites = new CellRewrites(spark, dir)
    commit(spark, dir, "delete", unchanged = _ => 0, tag = batchTag) { m =>
      // locate touched cells: ONE (n_id, c_id)-pruned scan of the live
      // file set — deleted ids can sit anywhere, so a linear skinny scan
      // is inherent; the vector bytes never load
      val touched: Set[String] =
        if (m.data.isEmpty) Set.empty
        else m.dataScan(spark, dir).select("n_id", "c_id")
          .join(ScaleHints.gated(del), Seq("n_id"), "left_semi")
          .select("c_id").distinct()
          .collect().map(r => s"c_id=${r.getLong(0)}").toSet
      if (touched.isEmpty) Unchanged
      else {
        val targets = m.data.groupBy(cellOf).filter { case (cell, _) => touched(cell) }
        rewrites.stage(m, targets) { merged =>
          val kept = merged.join(ScaleHints.gated(del), Seq("n_id"), "left_anti")
          pq.map(GraftPq.repairCw(_, kept)).getOrElse(kept)
        }
        Publish(m.copy(catalog = rewrites.catalog(m, targets)), targets.size)
      }
    }
  }

  /** Streaming opt-out/takedown ingest — the delete twin of
    * [[ingestStream]]: every micro-batch of ids is one tagged [[delete]]
    * (`<streamId>_d<batchId>` — a distinct tag namespace from append's
    * `_b`, so one streamId can drive both directions), and a checkpoint
    * replay no-ops on the manifest's tag set. The snapshot-log delete
    * semantics apply per micro-batch: rows appended AFTER a batch's
    * publish are later writes and win. */
  def deleteStream(dir: String, ids: DataFrame, streamId: String,
                   idCol: String = "vec_id"): DataStreamWriter[Row] =
    taggedStream(ids, streamId, "d") { (batch, tag) =>
      delete(batch.sparkSession, dir, batch.select(col(idCol)), idCol,
             batchTag = tag)
    }

  private[graft] def cellOf(rel: String): String = {
    val m = "c_id=[^/]+".r.findFirstIn(rel)
    m.getOrElse(throw new ManifestStoreException(
      s"manifest data entry '$rel' carries no c_id= partition segment"))
  }

  /** Streaming ingest into a manifest store — the object-store twin of
    * [[graft.streaming.CorpusStreams.ivfIngestStream]]: every micro-batch
    * is one tagged [[append]] (`<streamId>_b<batchId>`), so a checkpoint
    * replay no-ops on the manifest's tag set. No maintenance lock exists
    * in this layout — a concurrent [[compact]] surfaces as a publish
    * conflict that append absorbs with its bounded retry, staged files
    * intact (never a failed stream; contrast the directory store's
    * lock-wait).
    */
  def ingestStream(dir: String, vecs: DataFrame, streamId: String,
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : DataStreamWriter[Row] =
    taggedStream(vecs, streamId, "b") { (batch, tag) =>
      append(batch.sparkSession, dir,
             batch.select(col(idCol),
                          expr(s"transform($vecCol, x -> cast(x AS double))")
                            .as("__v")),
             idCol, "__v", batchTag = tag)
    }
}
