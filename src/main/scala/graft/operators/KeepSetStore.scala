package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import ManifestLog.{Publish, Unchanged, writeVia}

/** The VERSIONED AT-REST KEEP-SET — the dedup decision table
  * ([[GraftDedup.keepSet]]: id → cluster_id, keep) as a
  * manifest-committed object-store table whose daily mutation is an
  * INCREMENT-sized write, completing the daily-100-TB-increment story:
  * [[GraftDedup.keepSetIncremental]] computes the new decisions, this
  * store persists them without rewriting the corpus.
  *
  * A store on the [[ManifestLog]], like [[IvfObjectStore]] and
  * [[ImpactObjectStore]]; the log's scaladoc gives the substrate argument.
  *
  * Layout under `dir`:
  * {{{
  *   manifests/v<20-digit>.manifest    base/delta/tomb file lists + tags
  *   data/<file>.parquet               (doc_id, cluster_id, __v) rows,
  *                                     or (doc_id) tombstone slivers
  * }}}
  * A manifest (format `graft-keepset-manifest v2`) holds `version`,
  * `tag` lines, one `schema base|delta|tomb <json>` line per file family
  * and one `base|delta|tomb <path> <bytes>` line per live file;
  * [[ManifestCatalog]] plans every read from them without listing
  * `data/` or inferring a schema. A v1 manifest (bare paths, no schema
  * lines) still reads, and the next write records what it lacked.
  *
  * Versioning model — base ⊕ deltas, LAST-WINS per id:
  *   - [[create]] stages the full table as the BASE of v1;
  *   - [[increment]] stages ONLY the rows the increment changed — the
  *     new ids plus the old rows whose cluster label the contraction
  *     remapped (located by a broadcast of the sliver-sized remap
  *     against the resolved table's scan — never a corpus shuffle) —
  *     stamped `__v` = the publishing version, and publishes
  *     v+1 = base + deltas + the new sliver;
  *   - [[read]] resolves per-id last-wins (max `__v`); with no deltas
  *     (fresh create, or after [[compact]]) that is a PURE SCAN, so the
  *     serve path pays the resolution aggregation only between compacts;
  *   - [[compact]] folds base ⊕ deltas into a new base (one corpus
  *     rewrite, scheduled off the increment path) — run it after each
  *     increment and the NEXT increment's resolve is again a pure scan:
  *     the daily cadence at 100 TB is increment (sliver write) →
  *     compact (one rewrite) with no corpus-sized shuffle anywhere;
  *   - [[readAt]]/[[versions]]/[[vacuum]] give the same bounded
  *     time-travel window as the sibling stores — "which docs were kept
  *     on day N" is one readAt, the provenance/compliance query a dedup
  *     pipeline owes its consumers.
  *
  * `keep` is derived at read (id == cluster_id) — storing it would be
  * a redundant byte per row that could only ever disagree.
  *
  * Exactness: an increment's rows are exactly where
  * [[GraftDedup.keepSetIncremental]]'s full output differs from the
  * stored table (same contraction kernel — [[GraftDedup.keepSetRemap]]),
  * so resolved(base ⊕ deltas) ≡ the from-scratch [[GraftDedup.keepSet]]
  * over all ids and pairs folded so far (KeepSetStoreSpec pins chained
  * increments against the from-scratch closure). Preconditions are the
  * increment kernel's: new ids disjoint from stored ids, pair endpoints
  * within stored ∪ new.
  */
object KeepSetStore extends ManifestStore {
  type M = KeepSetManifest

  protected val name = "KeepSetStore"
  protected val format = "graft-keepset-manifest"
  protected val noFiles: ManifestCatalog = ManifestCatalog("base", "delta", "tomb")
  protected val dataRoots = Seq("data")

  private[graft] final case class KeepSetManifest(version: Long,
                                                  tags: Set[String],
                                                  catalog: ManifestCatalog =
                                                    noFiles)
      extends ManifestEntry {
    protected def format: String = KeepSetStore.format
    def base: Seq[String] = catalog.files("base")
    def deltas: Seq[String] = catalog.files("delta")
    def tombs: Seq[String] = catalog.files("tomb")
  }

  protected def build(version: Long, tags: Set[String],
                      fields: Map[String, String],
                      catalog: ManifestCatalog): KeepSetManifest =
    KeepSetManifest(version, tags, catalog)

  private def stage(df: DataFrame, dir: String, v: Long,
                    idCol: String): Staged =
    writeVia(
      df.select(col(idCol).cast("long").as(idCol),
                col("cluster_id").cast("long").as("cluster_id"),
                lit(v).as("__v")),
      s"$dir/data", Nil).under("data")

  /** Create the store from a [[GraftDedup.keepSet]]-shaped table
    * (idCol, cluster_id[, keep]) — the full table becomes v1's base.
    * Refuses a dir that already holds a manifest chain. */
  def create(keepSet: DataFrame, dir: String,
             idCol: String = "doc_id"): Long = {
    startChain(keepSet.sparkSession, dir) {
      KeepSetManifest(1L, Set.empty,
                      noFiles.add("base", stage(keepSet, dir, 1L, idCol)))
    }
    1L
  }

  private def resolveFrom(spark: SparkSession, dir: String,
                          m: KeepSetManifest, idCol: String): DataFrame = {
    val all = m.catalog.scan(spark, dir, Seq("base", "delta"))
    val lbl =
      if (m.deltas.isEmpty) all.select(col(idCol), col("cluster_id"))
      else all
        .groupBy(col(idCol))
        .agg(max(struct(col("__v"), col("cluster_id")))
          .getField("cluster_id").as("cluster_id"))
    // takedown mask ([[delete]]): tombstoned ids' ROWS drop at serve —
    // an O(ids) broadcast anti join; survivors' rows are bit-unchanged
    // (their cluster label is an opaque identity, not a liveness claim)
    val masked =
      if (m.tombs.isEmpty) lbl
      else lbl.join(
        broadcast(m.catalog.scan(spark, dir, Seq("tomb"))
          .select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
    masked.withColumn("keep", col(idCol) === col("cluster_id"))
  }

  /** The resolved live table (idCol, cluster_id, keep) — a pure scan
    * when the store is freshly created or compacted, a per-id last-wins
    * aggregation while increments' deltas are outstanding. */
  def read(spark: SparkSession, dir: String,
           idCol: String = "doc_id"): DataFrame =
    resolveFrom(spark, dir, head(spark, dir), idCol)

  /** Time travel: the keep-set exactly as version `version` served it —
    * "which docs were kept on day N". */
  def readAt(spark: SparkSession, dir: String, version: Long,
             idCol: String = "doc_id"): DataFrame =
    resolveFrom(spark, dir, at(spark, dir, version), idCol)

  /** Fold an increment into the stored table: stage ONLY the changed
    * sliver (new ids + old rows whose label the contraction remapped)
    * as a delta of v+1. `batchTag` gives replays idempotence exactly as
    * [[IvfObjectStore.append]]'s (the tag rides the manifest chain).
    * On a publish conflict the pass re-reads the chain and RE-STAGES —
    * the delta depends on the stored labels, which the winner may have
    * moved. Returns the published version.
    *
    * `newIds` are CANDIDATE new ids: ids already stored under the SAME
    * manifest snapshot the stage resolves from are filtered out
    * in-place (one id-pruned scan, sliver-broadcast semi-join), and the
    * filter re-derives on every retry — so the contraction kernel's
    * new-ids-disjoint-from-stored precondition holds by construction
    * even when a concurrent committer lands between the caller's read
    * and this publish (ADVICE r15: a caller-side disjointness check
    * reads a DIFFERENT manifest than the stage and can pass a stored id
    * as 'new', staging a duplicate row in the same delta version).
    */
  def increment(spark: SparkSession, dir: String, newIds: DataFrame,
                newPairs: DataFrame, idCol: String = "doc_id",
                aCol: String = "a_id", bCol: String = "b_id",
                batchTag: Option[String] = None): Long = {
    var staged: Staged = null
    var stagedAgainst: Seq[String] = null
    commit(spark, dir, "increment", unchanged = _.version, tag = batchTag) { m =>
      val liveFiles = m.base ++ m.deltas ++ m.tombs
      if (staged == null || stagedAgainst != liveFiles) {
        // the staged delta references the RESOLVED table three times
        // (remap's touched lookup, the moved-label locate, the stored-id
        // disjointness filter) and the remap sliver twice — persist both
        // for exactly the staging scope (guide §1.2 fewer passes; the
        // r17 keepset probe put the increment at ~3.3 s of its row's
        // ~5.9, mostly these repeated resolve scans as sequential jobs),
        // and unpersist before returning: bounded lifetime, no r11 leak.
        // remap is pair-sliver-sized by construction; the resolved table
        // is corpus-KEYED but skinny (two longs per id), and it is
        // re-derived per retry attempt, so nothing outlives the call.
        val prevLbl = resolveFrom(spark, dir, m, idCol)
          .select(col(idCol), col("cluster_id")).persist()
        val remap = GraftDedup.keepSetRemap(prevLbl, newPairs, idCol,
                                            aCol, bCol).persist()
        try {
          // old rows whose label moved: broadcast the sliver-sized remap
          // against the resolved scan — the identity rows (a merged
          // component's surviving min label) change nothing and are
          // filtered out, so the delta is exactly the changed set
          val moved = remap.filter(col("component") =!= col("__node"))
          val oldChanged = prevLbl
            .join(broadcast(moved.select(col("__node").as("cluster_id"),
                                         col("component"))),
                  Seq("cluster_id"), "inner")
            .select(col(idCol), col("component").as("cluster_id"))
          // genuinely-new ids under THIS snapshot: already-stored ids come
          // back from an id-pruned scan semi-joined with the sliver-sized
          // candidate set, and are excepted — re-derived on every retry so
          // the disjointness precondition survives concurrent committers
          val cand = newIds.select(col(idCol)).distinct()
          val genuinelyNew = cand.exceptAll(
            prevLbl.select(col(idCol))
              .join(broadcast(cand), Seq(idCol), "left_semi"))
          val newRows = genuinelyNew
            .join(ScaleHints.gated(remap.select(col("__node").as(idCol),
                                                col("component"))),
                  Seq(idCol), "left")
            .select(col(idCol),
                    coalesce(col("component"), col(idCol)).as("cluster_id"))
          staged = stage(oldChanged.unionByName(newRows), dir,
                         m.version + 1, idCol)
          stagedAgainst = liveFiles
        } finally { remap.unpersist(); prevLbl.unpersist() }
      }
      Publish(m.copy(catalog = m.catalog.add("delta", staged)), m.version + 1)
    }
  }

  /** Fold base ⊕ deltas into a new single-generation base (one corpus
    * rewrite, off the increment path) so [[read]] and the next
    * [[increment]]'s resolve are pure scans again. Doubles as the
    * takedown PURGE: the fold reads through the tombstone mask, so the
    * new base physically omits every [[delete]]d id's rows and the new
    * manifest clears its tombstones (deleted bytes leave disk once
    * [[vacuum]] ages out the pre-compact versions — the compliance
    * eraser; a formerly-deleted id can be re-added by [[increment]]
    * afterwards). No-op (returns the current version) when no deltas
    * and no tombstones are outstanding. */
  def compact(spark: SparkSession, dir: String,
              idCol: String = "doc_id"): Long = {
    var staged: Staged = null
    var stagedAgainst: Seq[String] = null
    commit(spark, dir, "compact", unchanged = _.version) { m =>
      val liveFiles = m.base ++ m.deltas ++ m.tombs
      if (m.deltas.isEmpty && m.tombs.isEmpty) Unchanged
      else {
        if (staged == null || stagedAgainst != liveFiles) {
          staged = stage(resolveFrom(spark, dir, m, idCol), dir,
                         m.version + 1, idCol)
          stagedAgainst = liveFiles
        }
        Publish(m.copy(catalog = noFiles.add("base", staged)), m.version + 1)
      }
    }
  }

  /** TAKEDOWN from the dedup decision table (r16 — completing the
    * tri-store compliance story: `IvfObjectStore.delete` rewrites cell
    * slivers, `ImpactObjectStore.delete` masks postings, and this masks
    * decisions): publish v+1 whose manifest carries an O(ids) tombstone
    * sliver that every [[read]]/[[readAt]]-of-this-version masks
    * IMMEDIATELY — deleted ids' rows drop from the served table;
    * survivors' rows are BIT-UNCHANGED. Stated consequences, plainly:
    * a survivor's `cluster_id` may reference a deleted id (the label is
    * an opaque cluster identity), and a cluster whose KEEPER was taken
    * down serves with NO kept member until an upstream rebuild —
    * deliberately conservative for training-data selection (the one
    * copy you were going to train on is gone by request; electing a
    * different member requires re-running dedup without the deleted
    * doc's pairs, which no store can derive from the decision table
    * alone). [[compact]] is the physical purge and clears the mask; a
    * deleted id stays masked even if a later [[increment]] re-adds it,
    * until that purge runs (takedown outranks re-crawl). `batchTag`
    * gives replays idempotence; ids absent from the store tombstone
    * harmlessly. Returns the published version. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "doc_id",
             batchTag: Option[String] = None): Long = {
    // the tombstone sliver is snapshot-independent (just the id set) —
    // stage once, retry only the publish
    var staged: Staged = null
    commit(spark, dir, "delete", unchanged = _.version, tag = batchTag) { m =>
      if (staged == null)
        staged = writeVia(
          ids.select(col(idCol).cast("long").as(idCol)).distinct(),
          s"$dir/data", Nil).under("data")
      Publish(m.copy(catalog = m.catalog.add("tomb", staged)), m.version + 1)
    }
  }

  /** Streaming opt-out twin of [[delete]] (r16 — the
    * [[IvfObjectStore.deleteStream]] contract on the decision table):
    * an unbounded stream of doc ids drains into tagged tombstone
    * versions, one per micro-batch (`<streamId>_d<batchId>`), so a
    * checkpoint replay no-ops on the manifest's tag set and every
    * opted-out id's row leaves the served keep-set at the NEXT read
    * after its batch commits; [[compact]] remains the physical purge on
    * its own cadence. */
  def deleteStream(dir: String, ids: DataFrame, streamId: String,
                   idCol: String = "doc_id"): DataStreamWriter[Row] =
    taggedStream(ids, streamId, "d") { (batch, tag) =>
      delete(batch.sparkSession, dir, batch.select(col(idCol)), idCol,
             batchTag = tag)
    }
}
