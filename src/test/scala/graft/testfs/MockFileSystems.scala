package graft.testfs

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only Hadoop filesystems for the store specs: each is the LOCAL
  * filesystem wearing an object-store scheme, so the manifest stores run
  * their full lifecycle through a foreign scheme without any real remote
  * storage. Registered per-test via `fs.<scheme>.impl` in the Hadoop
  * conf.
  *
  * File statuses are rebuilt with explicit permissions:
  * RawLocalFileSystem's deprecated lazy permission loader does
  * `new java.io.File(path.toUri)` and dies on any non-`file` scheme.
  */
abstract class SchemedLocalFs(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
  override def getScheme: String = scheme
  private def solid(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
                   st.getBlockSize, st.getModificationTime, st.getAccessTime,
                   new FsPermission("755"), "graft", "graft", st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    solid(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(solid)
}

/** Local FS masquerading as an object store. */
class MockObjectStoreFs extends SchemedLocalFs("s3a")

/** The mock object store with an eventually-consistent listing:
  * `listStatus` keeps returning every file it has listed before, also
  * after that file is deleted — the lag of an S3-class listing, which
  * the manifest stores must absorb (a listed manifest that is gone reads
  * as absent). */
class MockLaggingListingFs extends SchemedLocalFs("s3a") {
  private val seen =
    new java.util.concurrent.ConcurrentHashMap[Path, Map[String, FileStatus]]()
  override def listStatus(f: Path): Array[FileStatus] = {
    val now = super.listStatus(f).map(st => st.getPath.getName -> st).toMap
    seen.merge(makeQualified(f), now,
               (before: Map[String, FileStatus], fresh: Map[String, FileStatus]) =>
                 before ++ fresh)
      .values.toArray.sortBy(_.getPath.getName)
  }
}
