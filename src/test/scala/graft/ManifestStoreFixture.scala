package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** What the manifest-store specs share: a fresh base directory reached
  * through a mock object-store scheme, and raw access to a store's
  * manifest slots (planting foreign, torn or older-format manifests,
  * ageing them). */
trait ManifestStoreFixture { this: GraftFunSuite =>

  /** `body(base)` with `s3a:` served by the mock object store over a
    * fresh local directory `base`; store dirs are `s3a:$base/<name>`. */
  def withMockS3[T](body: String => T): T =
    withMockFs(classOf[graft.testfs.MockObjectStoreFs])(body)

  /** [[withMockS3]] with `s3a:` served by `fs`. */
  def withMockFs[T](fs: Class[_ <: FileSystem])(body: String => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", fs.getName)
    val base = java.nio.file.Files.createTempDirectory("manifest_store").toString
    try body(base)
    finally {
      conf.unset("fs.s3a.impl")
      FileSystem.closeAll()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
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
