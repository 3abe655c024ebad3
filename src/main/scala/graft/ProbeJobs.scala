package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Measurement probe (optimization guide §1): run named queries once each
  * and decompose their wall time into the SPARK JOBS they launch — count,
  * per-job duration, stage/task counts — plus optionally dump the
  * formatted plan of the FINAL frame to a file. At bench scale (sf0.1,
  * thousands of rows) the expensive queries are overhead-bound, so the
  * first question is never "which stage shuffles too much" but "how many
  * sequential actions does this lifecycle run and which of them pay
  * fixed cost for no data". This main answers that without the UI
  * (Bench runs ui.enabled=false).
  *
  * Usage: runMain graft.ProbeJobs <name[,name...]> [plansDir]
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS (default 32)
  */
object ProbeJobs {
  private final case class JobRow(id: Int, desc: String, started: Long,
                                  var ended: Long = 0L,
                                  var stages: Int = 0, var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeJobs <name[,name...]> [plansDir]")
    val names = args(0).split(',').toSeq
    val plansDir = args.lift(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    val jobs = new ConcurrentHashMap[Int, JobRow]()
    val order = new ArrayBuffer[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, desc, e.time))
        order.synchronized { order += e.jobId }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute the stage to the most recent unfinished job — good
        // enough for the sequential actions these lifecycles run
        val sid = e.stageInfo.stageId
        val owner = jobs.values.toArray(Array.empty[JobRow])
          .filter(j => j.ended == 0L || j.ended >= e.stageInfo.completionTime.getOrElse(0L))
          .sortBy(-_.started).headOption
        owner.foreach { j => j.stages += 1; j.tasks += e.stageInfo.numTasks }
        val _ = sid
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      jobs.clear(); order.synchronized { order.clear() }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      plansDir.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(p.resolve(s"$name.txt"), txt)
      }
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      Thread.sleep(500) // let listener events drain
      val rows = order.synchronized { order.toSeq }.flatMap(id => Option(jobs.get(id)))
      println(f"== $name%s: total=${(t1 - t0) / 1e9}%.3f s " +
        f"(build+plan=${(tPlan - t0) / 1e9}%.2f) jobs=${rows.size}%d")
      rows.foreach { j =>
        val dur = if (j.ended > 0) (j.ended - j.started) / 1e3 else -1.0
        println(f"   job ${j.id}%4d ${dur}%8.3f s stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.desc.take(90)}")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
