package graft.operators

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Bounded-retry loser of the optimistic manifest race. */
final class ManifestConflict(msg: String) extends IllegalStateException(msg)

/** Store corruption / misuse distinct from racing ([[ManifestConflict]]). */
final class ManifestStoreException(msg: String)
    extends IllegalStateException(msg)

/** Direct-write commit protocol of the manifest stores: tasks write their
  * parquet files STRAIGHT to the final location (no `_temporary`, no
  * task/job commit renames — the two things an object store cannot do
  * atomically) under names made unique per attempt by a random UUID, and
  * report the relative paths they wrote back to the driver through their
  * [[TaskCommitMessage]], each with its byte length. The driver thus
  * learns the exact file set from the job result — never from a directory
  * listing — and records it for the store's manifest publish. Files
  * written by losing task attempts (speculation, retries — Spark keeps
  * only the first successful result per partition) or by jobs that die
  * before their manifest publishes are simply never referenced;
  * [[ManifestStore.vacuum]] deletes them later.
  *
  * Instantiated reflectively by Spark via
  * `spark.sql.sources.commitProtocolClass`; the companion hands each
  * job's committed file list back to the caller keyed by a per-write
  * UUID token carried in the writer options (never by output path —
  * concurrent writers to one store directory must not race the handoff).
  */
class ManifestCommitProtocol(jobId: String, path: String,
                             dynamicPartitionOverwrite: Boolean)
    extends FileCommitProtocol with Serializable {

  def this(jobId: String, path: String) = this(jobId, path, false)

  require(!dynamicPartitionOverwrite,
    "ManifestCommitProtocol is append-only: overwrite semantics live in " +
    "the manifest (publish a version without the replaced files), not in " +
    "the filesystem")

  // task-side buffer of store-relative paths this attempt wrote
  @transient private var added: ArrayBuffer[String] = _

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit = {
    // The handoff is keyed by the per-write token [[ManifestLog.writeVia]]
    // put in the writer options (which Spark folds into the job's Hadoop
    // conf) — NEVER by output path: two concurrent writers to the same
    // store (the advertised append+compact / streaming+maintenance mode)
    // both target `$dir/data`, and path-keying would let one writer
    // publish the other's files under its own tag while its own staged
    // files are orphaned. A token collision is impossible (UUID per write).
    val token = jobContext.getConfiguration.get(ManifestCommitProtocol.TokenKey)
    require(token != null && token.nonEmpty,
      "ManifestCommitProtocol: no " + ManifestCommitProtocol.TokenKey +
      " in the job conf — this protocol is only valid for writes issued " +
      "through ManifestLog.writeVia (did an unrelated write get routed " +
      "through it?)")
    ManifestCommitProtocol.record(
      token, taskCommits.flatMap(_.obj.asInstanceOf[Seq[(String, Long)]]))
  }

  override def abortJob(jobContext: JobContext): Unit = ()
  override def setupTask(taskContext: TaskAttemptContext): Unit =
    added = ArrayBuffer.empty[String]

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String],
                               spec: FileNameSpec): String = {
    val split = taskContext.getTaskAttemptID.getTaskID.getId
    // UUID per file: two attempts of one task write DISTINCT objects, so
    // the losing attempt can never clobber the winner's bytes mid-read
    val name = f"${spec.prefix}part-$split%05d-${java.util.UUID.randomUUID}" +
      spec.suffix
    val rel = dir.map(d => s"$d/$name").getOrElse(name)
    added += rel
    new Path(new Path(path), rel).toString
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String], ext: String): String =
    newTaskTempFile(taskContext, dir, FileNameSpec("", ext))

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
                                      absoluteDir: String,
                                      ext: String): String =
    throw new UnsupportedOperationException(
      "ManifestCommitProtocol tracks files relative to the store root; " +
      "absolute-path writes cannot be manifest-committed")

  // the writers are closed by now, so each file's length is final — the
  // manifest records it and readers never stat or list the file
  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
    val root = new Path(path)
    val fs = root.getFileSystem(taskContext.getConfiguration)
    new TaskCommitMessage(
      added.toSeq.map(rel => rel -> fs.getFileStatus(new Path(root, rel)).getLen))
  }

  // files of an aborted attempt stay on disk unreferenced — deleting here
  // would race the winning attempt's read path on eventually-consistent
  // stores for zero benefit; vacuum() collects them
  override def abortTask(taskContext: TaskAttemptContext): Unit = ()
}

object ManifestCommitProtocol {
  /** Writer-option key carrying the per-write handoff token; Spark copies
    * writer options into the write job's Hadoop conf, which is where
    * [[ManifestCommitProtocol.commitJob]] reads it back. */
  private[graft] val TokenKey = "graft.manifest.commit.token"

  private val results =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()

  private[operators] def record(token: String,
                                files: Seq[(String, Long)]): Unit =
    results.put(token, files)

  /** Claim (and clear) the committed (file, length) list of the job that
    * carried `token`. Tokens are unique per write, so concurrent writers
    * to the SAME store directory (append ∥ compact, streaming ∥
    * maintenance) each take exactly their own file list. */
  private[operators] def take(token: String): Option[Seq[(String, Long)]] =
    Option(results.remove(token))
}

/** One version of a store's manifest: what the log reads and writes of
  * every store — the version, the batch tags, the store's own field lines
  * and the file catalog. */
private[graft] trait ManifestEntry {
  def version: Long
  def tags: Set[String]
  def catalog: ManifestCatalog

  /** The header of the store's manifests, e.g. `graft-ivf-manifest`. */
  protected def format: String

  /** The store's own `(key, value)` lines, rendered between `version` and
    * the tags. */
  def fields: Seq[(String, String)] = Nil

  def render: String = ManifestCatalog.render(format,
    (s"version $version" +: fields.map { case (k, v) => s"$k $v" }) ++
      tags.toSeq.sorted.map("tag " + _), catalog)
}

/** The commit log every at-rest manifest store ([[IvfObjectStore]],
  * [[ImpactObjectStore]], [[KeepSetStore]]) is built on: a chain of
  * immutable manifest versions under `dir/manifests/`, each naming the
  * store's live files. It assumes NOTHING an object store cannot give —
  *
  *   - **no rename**: data files are written once, directly to their
  *     final keys, by [[ManifestCommitProtocol]] ([[writeVia]]); nothing
  *     is ever moved. Mutation = publishing a NEW immutable manifest
  *     version listing the live file set; "deleting" a file means leaving
  *     it out.
  *   - **no listing consistency**: readers and writers resolve state from
  *     the manifest chain, never from what a directory claims to contain.
  *     Writers learn their own files (and their lengths) from task commit
  *     messages; readers take every data file's length and schema from
  *     the manifest ([[ManifestCatalog]]), so no data file is listed,
  *     stat'ed or footer-inferred before its scan runs. The one listing a
  *     read makes finds the newest manifest; under eventual listing it
  *     degrades to reading a slightly STALE version — a complete,
  *     immutable snapshot (manifests reference only already-durable
  *     files), never a torn one — and a listed manifest that has since
  *     been vacuumed reads as absent. Only [[ManifestStore.vacuum]] lists
  *     data directories, and a file a lagging listing hides is merely
  *     collected on a later pass.
  *   - **atomic whole-object visibility, not atomic create**: each
  *     manifest carries a SHA-256 trailer; a reader that meets a torn
  *     half-written manifest (possible only on filesystems without
  *     all-or-nothing object PUT) rejects it and falls back to the
  *     previous version. A torn file squats on its version slot; a
  *     writer deletes it once it is older than [[TornManifestGraceMs]]
  *     (its writer is dead, not mid-close) and never before.
  *
  * Concurrent COMMITTERS are serialized optimistically: version `n+1` is
  * published with create-if-absent, and a loser re-reads the chain and
  * retries on top of the winner ([[ManifestConflict]] after
  * [[PublishRetries]] attempts). On stores exposing conditional PUT (S3
  * `If-None-Match`, GCS generation preconditions) that check is atomic;
  * elsewhere run one committer at a time — concurrent READERS are always
  * safe either way. Crash windows: dying before publish leaves orphaned
  * data files (no reader ever sees them; vacuum deletes them); dying
  * after publish IS the commit. There is no window where a reader can
  * observe a half-applied mutation, which is what the rename-based
  * [[GraftSimilarity.writeIvfIndex]] layout could not promise off HDFS —
  * hence its filesystem-contract gate refuses object stores while the
  * manifest stores are the supported way to run mutable stores on them.
  *
  * Batch tags give replays idempotence: a mutation carrying a tag the
  * head already records no-ops before any work, and the tag set rides the
  * manifest chain itself, so the check and the commit are one atomic
  * document — no separate marker files to race. Tags ride the chain
  * forever (one line each).
  *
  * Format versions only go forward (see [[ManifestCatalog$]]): a graft
  * that reads only an earlier format takes a newer manifest for a torn
  * one, serves the last snapshot it can read, and its writers delete the
  * newer manifests past the torn grace. Never downgrade graft on a store
  * or mix writer versions on one. A manifest whose checksum holds but
  * whose content this build cannot read fails loudly and is never healed.
  */
private[graft] object ManifestLog {
  private[graft] val PublishRetries = 8

  /** Age past which a version file that fails its checksum is taken for
    * the leftover of a dead writer and deleted by the next publisher's
    * retry, freeing its slot. */
  private[graft] val TornManifestGraceMs: Long = 60000L

  /** Losing a publish is not always "the chain advanced": the winner may
    * still be BETWEEN create and close, so the loser's immediate re-read
    * sees a half-written (torn-looking) manifest, falls back to the
    * previous version, and re-targets the same squatted slot. Without a
    * pause, the whole retry budget can burn inside the winner's write
    * window (microseconds of loser work vs a descheduled winner's
    * milliseconds). Exponential backoff capped at 800 ms —
    * 50·2^min(attempt,4) ms, ~4 s total across the budget — outwaits a
    * live writer's close even when that writer is descheduled for whole
    * seconds on an oversubscribed host (a 5-attempt/1.5 s budget was
    * observed losing to exactly that); genuinely dead writers are the
    * torn healing's job after the grace. */
  private[graft] def publishBackoff(attempt: Int): Unit =
    Thread.sleep(50L << math.min(attempt, 4))

  /** What one pass of [[ManifestStore.commit]] decided on the head it
    * read: nothing to publish, or the next manifest and the result the
    * mutation returns once it lands. */
  sealed trait Step[+M, +R]
  case object Unchanged extends Step[Nothing, Nothing]
  final case class Publish[M, R](next: M, result: R) extends Step[M, R]

  private[graft] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** The grammar of batch tags and of the stream ids that prefix them:
    * silent sanitization could collide two tags. */
  private[graft] def requireName(what: String, name: String): Unit =
    require(name.matches("[A-Za-z0-9_]+"),
      s"$what '$name' must match [A-Za-z0-9_]+ (it names the store's " +
      "idempotency tags: silent sanitization could collide two)")

  /** Route a DataFrame write through [[ManifestCommitProtocol]] and hand
    * back the store-relative paths and byte lengths of exactly the files
    * the committed tasks wrote, with the schema they carry — what the
    * manifest records so reads never list or infer. The write runs on a
    * FORKED child session (cloned session state, same SparkContext) so
    * the commit-protocol conf flip is invisible to the caller's session —
    * an unrelated `df.write` on the owning session during this window
    * keeps its normal task-commit semantics — and the handoff is claimed
    * by a per-write UUID token riding the writer options, so concurrent
    * store writers never race each other's file lists. */
  private[graft] def writeVia(df: DataFrame, outPath: String,
                              partitionCols: Seq[String]): Staged = {
    import org.apache.spark.sql.GraftSqlBridge
    val isolated = GraftSqlBridge.forkSession(df.sparkSession)
    isolated.conf.set("spark.sql.sources.commitProtocolClass",
                      classOf[ManifestCommitProtocol].getName)
    val frame = GraftSqlBridge.ofRows(isolated, GraftSqlBridge.logicalPlan(df))
    val token = java.util.UUID.randomUUID().toString
    val w = frame.write.mode("append")
      .option(ManifestCommitProtocol.TokenKey, token)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(outPath)
    val files = ManifestCommitProtocol.take(token).getOrElse(
      throw new ManifestStoreException(
        s"ManifestCommitProtocol recorded no commit for $outPath — " +
        "another protocol handled the write"))
    Staged(files, StructType(
      frame.schema.filterNot(f => partitionCols.contains(f.name))))
  }
}

/** A store on the [[ManifestLog]]: the store object names its manifest
  * format, its file families, the directories its data files live in and
  * how its manifest is built from parsed parts; the log gives it, once for
  * all stores, manifest naming (`manifests/v<20-digit>.manifest`),
  * newest-valid resolution, time travel, create-if-absent publish with
  * torn healing and bounded retry, vacuum and tagged streams.
  */
private[graft] trait ManifestStore {
  import ManifestLog._

  /** The store's manifest. */
  type M <: ManifestEntry

  /** The store's name in messages, e.g. `IvfObjectStore`. */
  protected def name: String

  /** The header of the store's manifests. */
  protected def format: String

  /** The store's file families, all empty. */
  protected def noFiles: ManifestCatalog

  /** The directories under `dir` its data files live in: what
    * [[vacuum]] sweeps. */
  protected def dataRoots: Seq[String]

  /** Keys of the store's own field lines ([[ManifestEntry.fields]]). */
  protected def fieldKeys: Set[String] = Set.empty

  /** A manifest from its parts; throws if `fields` lacks what the store
    * needs. */
  protected def build(version: Long, tags: Set[String],
                      fields: Map[String, String],
                      catalog: ManifestCatalog): M

  private def slot(dir: String, version: Long): Path =
    new Path(f"$dir/manifests/v$version%020d.manifest")

  /** Parse + integrity-check one manifest body; None if torn. A body
    * whose checksum holds but which this build cannot read throws (see
    * [[ManifestCatalog.parse]]). */
  private[graft] def parseManifest(text: String): Option[M] = {
    var version = -1L
    val tags = Set.newBuilder[String]
    val fields = Map.newBuilder[String, String]
    ManifestCatalog.parse(text, format, noFiles) {
      case ("version", v) => version = v.toLong
      case ("tag", t) => tags += t
      case (k, v) if fieldKeys(k) => fields += k -> v
    }.map { cat =>
      if (version < 1) throw ManifestCatalog.unreadable(format, "no version")
      try build(version, tags.result(), fields.result(), cat)
      catch {
        case e: ManifestStoreException => throw e
        case e: Exception => throw ManifestCatalog.unreadable(format, e.toString)
      }
    }
  }

  /** A manifest a listing named: one that has vanished since (a
    * concurrent vacuum, a lagging listing) reads as absent. */
  private def load(fs: FileSystem, p: Path): Option[M] =
    try parseManifest(readFully(fs, p))
    catch { case _: FileNotFoundException => None }

  /** The version files under `dir/manifests`, newest first: one listing. */
  private def listed(fs: FileSystem, dir: String): Seq[FileStatus] =
    (try fs.listStatus(new Path(s"$dir/manifests"))
     catch { case _: FileNotFoundException => Array.empty[FileStatus] })
      .filter(f => f.isFile && f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .sortBy(_.getPath.getName)(Ordering[String].reverse).toSeq

  private def newest(fs: FileSystem, files: Seq[FileStatus]): Option[M] =
    files.iterator.flatMap(f => load(fs, f.getPath)).nextOption()

  /** Resolve the newest VALID manifest. Listing may lag on an
    * eventually-consistent store — then this returns an older complete
    * snapshot (safe; see [[ManifestLog$]]). Torn manifests fail their
    * checksum and are skipped; one whose checksum holds but whose format
    * this build cannot read throws instead. */
  private[graft] def currentManifest(fs: FileSystem, dir: String): Option[M] =
    newest(fs, listed(fs, dir))

  /** The newest valid manifest, or a throw. */
  protected def head(spark: SparkSession, dir: String): M =
    currentManifest(fsOf(spark, dir), dir).getOrElse(
      throw new ManifestStoreException(s"$name.read: no valid manifest under $dir"))

  /** Manifest `version`, or a throw naming the readable ones. */
  protected def at(spark: SparkSession, dir: String, version: Long): M =
    load(fsOf(spark, dir), slot(dir, version)).getOrElse(
      throw new ManifestStoreException(
        s"$name.readAt: no valid manifest v$version under $dir — " +
        s"readable versions: ${versions(spark, dir).mkString(", ")}"))

  /** All valid manifest versions still on disk, ascending — the store's
    * TIME-TRAVEL window. Every version is an immutable complete snapshot
    * (manifests reference only already-durable files and "deletion" is
    * omission), so any listed version serves exactly as it did when it
    * was current; [[vacuum]] bounds the window by deleting superseded
    * manifests (and the data only they reference) older than its age
    * bound — size retention to the history you want readable. Torn files
    * fail their checksum and are excluded. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    listed(fs, dir).flatMap(f => load(fs, f.getPath)).map(_.version).sorted
  }

  /** `m` with every length and family schema filled in
    * ([[ManifestCatalog.resolved]]). */
  private def resolved(spark: SparkSession, dir: String, m: M): M =
    if (m.catalog.complete) m
    else build(m.version, m.tags, m.fields.toMap, m.catalog.resolved(spark, dir))

  /** Publish `m` at its version with create-if-absent: false when the
    * slot is taken (a racing publish won it, or a torn file squats it). */
  private def publish(fs: FileSystem, dir: String, m: M): Boolean = {
    val p = slot(dir, m.version)
    fs.mkdirs(p.getParent)
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException => return false }
    try out.write(m.render.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    true
  }

  /** Free the slot of `version` if a torn file older than
    * [[ManifestLog.TornManifestGraceMs]] squats on it. */
  private def healTorn(fs: FileSystem, dir: String, version: Long): Unit = {
    val p = slot(dir, version)
    try {
      val st = fs.getFileStatus(p)
      if (st.getModificationTime <
            System.currentTimeMillis() - TornManifestGraceMs &&
          parseManifest(readFully(fs, p)).isEmpty)
        fs.delete(p, false)
    } catch { case _: FileNotFoundException => }
  }

  /** Start the chain: refuse a dir that already holds one, then stage
    * (`first`) and publish v1 — single-shot, a lost race throws
    * [[ManifestConflict]]. */
  protected def startChain(spark: SparkSession, dir: String)(first: => M): Unit = {
    val fs = fsOf(spark, dir)
    currentManifest(fs, dir).foreach { m =>
      throw new ManifestStoreException(
        s"$name.create: $dir already holds manifest v${m.version} — " +
        "mutate the existing store instead")
    }
    if (!publish(fs, dir, first))
      throw new ManifestConflict(
        s"$name.create: lost the v1 publish race on $dir — another writer " +
        "created the store concurrently")
  }

  /** The one commit loop of every mutation: read the head (`empty` when
    * the dir holds no chain, a throw if that is None) with its catalog
    * resolved; if it records `tag`, return `unchanged(head)` before any
    * work; otherwise `body` decides on it. A [[ManifestLog.Publish]] is
    * published as the head's next version carrying the head's tags plus
    * `tag` (whatever version and tags the body's manifest had). A lost
    * publish heals a stale torn slot, backs off and retries on the re-read
    * head; `body` runs again and may keep what it staged where it still
    * applies. [[ManifestConflict]] after [[ManifestLog.PublishRetries]]
    * attempts. */
  protected def commit[R](spark: SparkSession, dir: String, op: String,
                          unchanged: M => R, tag: Option[String] = None,
                          empty: Option[M] = None)(
      body: M => Step[M, R]): R = {
    tag.foreach(requireName("batchTag", _))
    val fs = fsOf(spark, dir)
    var attempt = 0
    while (attempt < PublishRetries) {
      val m = resolved(spark, dir, currentManifest(fs, dir).orElse(empty)
        .getOrElse(throw new ManifestStoreException(
          s"$name.$op: no valid manifest under $dir")))
      if (tag.exists(m.tags)) return unchanged(m)
      body(m) match {
        case Unchanged => return unchanged(m)
        case Publish(next, result) =>
          val v = m.version + 1
          if (publish(fs, dir, build(v, m.tags ++ tag, next.fields.toMap,
                                     next.catalog)))
            return result
          healTorn(fs, dir, v)
          publishBackoff(attempt)
      }
      attempt += 1
    }
    throw new ManifestConflict(
      s"$name.$op: lost the publish race $PublishRetries times on $dir — " +
      "serialize committers or raise retries")
  }

  /** Delete data objects NO surviving manifest references and superseded
    * manifests, both older than `olderThanMs` — orphans of crashed or
    * raced writes and files of superseded versions; the time-travel
    * retention knob. The age bound keeps a write that is between its task
    * commits and its manifest publish alive (choose it ≥ the longest
    * write + publish window; err long — an orphan costs bytes, a vacuumed
    * in-flight file costs a failed publish retry, though never a torn
    * read: the retry re-stages). Superseded manifests go FIRST, and the
    * live set is the union over every manifest that remains readable:
    * sweeping data by the current manifest alone could delete a file a
    * retained older manifest still serves, because staging time precedes
    * publish time. `manifests/` is listed once — the live set is that
    * listing minus what was deleted — and a manifest a lagging listing
    * still shows after it is gone reads as absent, so eventual listing
    * only delays collection. Returns objects deleted. */
  def vacuum(spark: SparkSession, dir: String, olderThanMs: Long): Int = {
    require(olderThanMs > 0, s"olderThanMs must be positive: $olderThanMs")
    val fs = fsOf(spark, dir)
    val files = listed(fs, dir)
    val cur = newest(fs, files).getOrElse(throw new ManifestStoreException(
      s"$name.vacuum: no valid manifest under $dir"))
    val cutoff = System.currentTimeMillis() - olderThanMs
    val superseded = slot(dir, cur.version).getName
    val dropped = files
      .filter(f => f.getModificationTime < cutoff &&
                   f.getPath.getName < superseded &&
                   fs.delete(f.getPath, false))
      .map(_.getPath).toSet
    val live: Set[String] = files.filterNot(f => dropped(f.getPath))
      .flatMap(f => load(fs, f.getPath))
      .flatMap(m => m.catalog.kinds.flatMap(m.catalog.files))
      .toSet
    def sweep(sub: String): Int =
      (try fs.listStatus(new Path(new Path(dir), sub))
       catch { case _: FileNotFoundException => Array.empty[FileStatus] })
        .map { st =>
          val rel = s"$sub/${st.getPath.getName}"
          if (st.isDirectory) sweep(rel)
          else if (st.getModificationTime < cutoff && !live(rel) &&
                   fs.delete(st.getPath, false)) 1
          else 0
        }.sum
    dropped.size + dataRoots.map(sweep).sum
  }

  /** A streaming sink of tagged commits: every micro-batch of `rows` is
    * one `commitBatch(batch, tag)` with tag `<streamId>_<kind><batchId>`,
    * so a checkpoint replay no-ops on the manifest's tag set. */
  protected def taggedStream(rows: DataFrame, streamId: String, kind: String)(
      commitBatch: (DataFrame, Option[String]) => Unit): DataStreamWriter[Row] = {
    requireName("streamId", streamId)
    graft.GraftSession.ensureExtensions(rows.sparkSession)
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      commitBatch(batch, Some(s"${streamId}_$kind$batchId"))
    }
  }
}
