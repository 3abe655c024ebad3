package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.BeforeAndAfterAll

/** What the store specs share: local store directories deleted when the
  * suite ends, a fresh base directory reached through a mock object-store
  * scheme, and raw access to a store's manifest slots (planting foreign,
  * torn or older-format manifests, ageing them). */
trait ManifestStoreFixture extends BeforeAndAfterAll { this: GraftFunSuite =>

  private val tempStores = mutable.Buffer.empty[java.io.File]

  /** A fresh local directory (named after `prefix`) for a store, deleted
    * with everything in it when the suite ends, pass or fail (a suite may
    * share one store across its tests). */
  def tempStore(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempStores += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      tempStores.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      tempStores.clear()
    }

  /** `body(base)` with `s3a:` served by the mock object store over a
    * fresh local directory `base`; store dirs are `s3a:$base/<name>`. */
  def withMockS3[T](body: String => T): T =
    withMockFs(classOf[graft.testfs.MockObjectStoreFs])(body)

  /** [[withMockS3]] with `s3a:` served by `fs`. */
  def withMockFs[T](fs: Class[_ <: FileSystem])(body: String => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", fs.getName)
    try body(tempStore("manifest_store"))
    finally {
      conf.unset("fs.s3a.impl")
      FileSystem.closeAll()
    }
  }

  def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The slot of manifest version `v` under `dir`. */
  def manifestPath(dir: String, v: Long): Path =
    new Path(f"$dir/manifests/v$v%020d.manifest")

  /** Write `text` as manifest version `v` (create-if-absent, like a
    * writer). */
  def publishRaw(dir: String, v: Long, text: String): Unit = {
    val out = fsOf(dir).create(manifestPath(dir, v), false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Make manifest version `v` `ms` milliseconds old. */
  def ageManifest(dir: String, v: Long, ms: Long): Unit =
    assert(new java.io.File(manifestPath(dir, v).toUri.getPath)
      .setLastModified(System.currentTimeMillis() - ms))

  /** `text` with its body lines edited and the SHA-256 trailer redone,
    * so the result is a valid (not torn) manifest of whatever it says. */
  def resealed(text: String)(edit: Seq[String] => Seq[String]): String = {
    val payload = edit(text.split("\n").toSeq.init).mkString("", "\n", "\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"${payload}end $digest\n"
  }
}
