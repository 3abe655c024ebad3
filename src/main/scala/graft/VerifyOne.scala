package graft
import java.nio.file.{Files, Paths}
/** Dev harness: run a single SparkEntry query and dump result + oracle
  * SQL, for fast local DuckDB comparison while debugging one red row.
  * Usage: runMain graft.VerifyOne <sfDir> <outDir> <queryName> */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, name) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    SparkEntry.oracleSql.get(name).foreach { sql =>
      Files.writeString(Paths.get(s"$outDir/$name.sql"), sql)
    }
    spark.stop()
  }
}
