package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The files one [[ManifestLog.writeVia]] committed: store-relative
  * paths with their byte lengths, and the schema they carry (partition
  * columns excluded). */
private[graft] final case class Staged(lens: Seq[(String, Long)],
                                       schema: StructType) {
  def files: Seq[String] = lens.map(_._1)
  /** Re-key the paths under `prefix/` (write root → store root). */
  def under(prefix: String): Staged =
    copy(lens = lens.map { case (r, n) => s"$prefix/$r" -> n })
}

/** One file family of a manifest — one kind of file line (`data`,
  * `impact`, `base`, …), whose files share one writer: the live files,
  * each one's byte length, and the family's schema (the union over its
  * files). Lengths and schema are absent only in a manifest of the
  * earlier format, until [[resolved]] reads them from storage. */
private[graft] final case class FileFamily(
    files: Seq[String] = Nil, lens: Map[String, Long] = Map.empty,
    schema: Option[StructType] = None) {

  /** A scan of the family needs no storage call. */
  def complete: Boolean =
    (files.isEmpty || schema.isDefined) && files.forall(lens.contains)

  /** The leaf statuses of `paths` (qualified): recorded lengths where
    * known, a `getFileStatus` on the driver otherwise. */
  def statuses(spark: SparkSession, dir: String,
               paths: Seq[String]): Seq[FileStatus] = {
    val fs = ManifestLog.fsOf(spark, dir)
    paths.map { rel =>
      val p = fs.makeQualified(new Path(s"$dir/$rel"))
      lens.get(rel).fold(fs.getFileStatus(p))(new FileStatus(_, false, 0, 0L, 0L, p))
    }
  }

  /** Every length and the schema filled in: lengths from storage, the
    * schema from the files' footers, both read on the driver. */
  def resolved(spark: SparkSession, dir: String): FileFamily =
    if (complete) this
    else {
      val st = statuses(spark, dir, files)
      FileFamily(files, files.zip(st.map(_.getLen)).toMap,
                 schema.orElse(Some(GraftSqlBridge.parquetFooterSchema(spark, st))))
    }
}

/** Which files a store manifest lists, per family, and what it records
  * about them beyond their names — each file's byte length (its leaf
  * status, so no listing) and each family's schema (so no footer
  * inference) — so that every read plans from the manifest alone. It is
  * the one record of the live files: the stores' manifests name their
  * families here and derive their file lists from it.
  *
  * In the manifest text each family has one `schema <family> <json>`
  * line and one `<family> <path> <bytes>` line per file (see
  * [[ManifestCatalog.render]]). A manifest of the earlier format (v1)
  * lists bare paths and no schema; [[scan]] then reads lengths and schema
  * from storage on the driver — without a Spark job — and the first
  * write on top ([[resolved]] at load) records them, so the store is back
  * on the recorded path from its next version on.
  */
private[graft] final case class ManifestCatalog(
    kinds: Seq[String], families: Map[String, FileFamily]) {

  def files(kind: String): Seq[String] = families(kind).files

  def complete: Boolean = families.values.forall(_.complete)

  /** Every family's lengths and schema filled in (see
    * [[FileFamily.resolved]]); `this` when nothing is missing. Writers
    * resolve the manifest they build on, so what they publish is
    * complete. */
  def resolved(spark: SparkSession, dir: String): ManifestCatalog =
    if (complete) this
    else copy(families = families.map { case (k, f) => k -> f.resolved(spark, dir) })

  /** `kind`'s live files become `next`: kept files keep their recorded
    * lengths, new ones take theirs from `staged` (the writes that made
    * them), and the family schema is the union of the kept files' and
    * the staged schemas. */
  def replace(kind: String, next: Seq[String],
              staged: Seq[Staged]): ManifestCatalog = {
    val f = families(kind)
    val known = f.lens ++ staged.flatMap(_.lens)
    val parts = (if (next.exists(f.files.toSet)) Seq(f.schema) else Nil) ++
      staged.map(s => Some(s.schema))
    val schema =
      if (parts.contains(None)) None
      else parts.flatten.reduceOption(GraftSqlBridge.mergeSchemas)
    copy(families = families +
      (kind -> FileFamily(next, next.flatMap(p => known.get(p).map(p -> _)).toMap,
                          schema)))
  }

  /** `staged` appended to `kind`'s live files. */
  def add(kind: String, staged: Staged): ManifestCatalog =
    replace(kind, files(kind) ++ staged.files, Seq(staged))

  /** The one read of a manifest's files: the files of `kinds` (several
    * read as one table, e.g. a keep-set's base and deltas), only those
    * passing `only`; `basePath` keeps the partition directories between
    * it and the files as columns. A family of the earlier format is
    * resolved first. See [[GraftSqlBridge.parquetScan]]. */
  def scan(spark: SparkSession, dir: String, kinds: Seq[String],
           basePath: Option[String] = None,
           only: String => Boolean = _ => true): DataFrame = {
    val fams = kinds.map(families(_).resolved(spark, dir)).filter(_.files.nonEmpty)
    require(fams.nonEmpty, s"ManifestCatalog.scan: no ${kinds.mkString("/")} files")
    GraftSqlBridge.parquetScan(spark,
      fams.flatMap(f => f.statuses(spark, dir, f.files.filter(only))),
      fams.flatMap(_.schema).reduce(GraftSqlBridge.mergeSchemas), basePath)
  }
}

/** The manifest text every store shares: a `<format> v<n>` header, the
  * store's own field lines, the catalog's schema and file lines, and an
  * `end <sha256>` trailer over everything before it.
  *
  * Format versions only go forward. This build writes v2 (lengths and
  * schema lines) and reads v1 and v2. A build that reads only v1 sees a
  * v2 manifest as torn: it serves the last v1 snapshot, and its writers
  * delete v2 manifests past the torn grace as squatters. Downgrading
  * graft on a store, or running writers of different versions on one
  * store, is therefore unsafe. From v2 on, a manifest whose trailer
  * checks but whose content this build cannot read — a newer version, an
  * unknown line — fails loudly and is never treated as torn. */
private[graft] object ManifestCatalog {
  private val FormatVersion = 2
  private val Readable = Set(1, 2)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  def apply(kinds: String*): ManifestCatalog =
    ManifestCatalog(kinds, kinds.map(_ -> FileFamily()).toMap)

  def render(format: String, fields: Seq[String],
             catalog: ManifestCatalog): String = {
    val body = new StringBuilder
    body.append(format).append(" v").append(FormatVersion).append('\n')
    fields.foreach(f => body.append(f).append('\n'))
    for (k <- catalog.kinds; f = catalog.families(k) if f.files.nonEmpty;
         s <- f.schema)
      body.append("schema ").append(k).append(' ').append(s.json).append('\n')
    for (k <- catalog.kinds; f = catalog.families(k); p <- f.files.sorted) {
      body.append(k).append(' ').append(p)
      f.lens.get(p).foreach(n => body.append(' ').append(n))
      body.append('\n')
    }
    val digest = sha256(body.toString) // BEFORE the trailer
    body.append("end ").append(digest).append('\n').toString
  }

  /** Check and split one manifest of `format` whose file families are
    * those of `empty`: None when it is torn (no `end` trailer matching
    * its SHA-256). Past a valid trailer every line must be understood:
    * `field` takes the store's own `(key, value)` lines, the catalog the
    * `schema` and file lines; anything else throws
    * [[ManifestStoreException]]. */
  def parse(text: String, format: String, empty: ManifestCatalog)(
      field: PartialFunction[(String, String), Unit]): Option[ManifestCatalog] = {
    val lines = text.split("\n", -1).toSeq.dropRight(
      if (text.endsWith("\n")) 1 else 0)
    if (lines.isEmpty || !lines.last.startsWith("end ")) return None
    val payload = lines.init.mkString("", "\n", "\n")
    if (sha256(payload) != lines.last.stripPrefix("end "))
      return None
    val v = lines.head.stripPrefix(s"$format v").toIntOption
    if (!lines.head.startsWith(s"$format v") || !v.exists(Readable))
      throw unreadable(format, s"header '${lines.head}'")
    val files = empty.kinds.map(_ -> Vector.newBuilder[String]).toMap
    val lens = empty.kinds.map(_ -> Map.newBuilder[String, Long]).toMap
    val schemas = Map.newBuilder[String, StructType]
    for (l <- lines.slice(1, lines.length - 1)) {
      val (key, value) = l.indexOf(' ') match {
        case -1 => throw unreadable(format, s"line '$l'")
        case i => (l.substring(0, i), l.substring(i + 1))
      }
      try (key, value.split(" ")) match {
        case ("schema", Array(k, _*)) if files.contains(k) =>
          DataType.fromJson(value.substring(k.length + 1)) match {
            case s: StructType => schemas += k -> s
            case _ => throw unreadable(format, s"line '$l'")
          }
        case (k, Array(p, n)) if files.contains(k) =>
          files(k) += p; lens(k) += p -> n.toLong
        case (k, Array(p)) if files.contains(k) => files(k) += p
        case _ if field.isDefinedAt((key, value)) => field((key, value))
        case _ => throw unreadable(format, s"line '$l'")
      } catch {
        case e: ManifestStoreException => throw e
        case e: Exception =>
          throw unreadable(format, s"line '$l': ${e.getMessage}")
      }
    }
    val schemaOf = schemas.result()
    Some(empty.copy(families = empty.kinds.map(k =>
      k -> FileFamily(files(k).result(), lens(k).result(), schemaOf.get(k))).toMap))
  }

  /** A manifest whose checksum holds but whose content this build cannot
    * read: never torn, so never healed away. */
  def unreadable(format: String, why: String) = new ManifestStoreException(
    s"unreadable $format manifest ($why): its checksum holds, so it is " +
    "not torn — a graft writing a newer format (this build reads " +
    s"${Readable.toSeq.sorted.map("v" + _).mkString(", ")}) or a faulty " +
    "writer made it")
}
