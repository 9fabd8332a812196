package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry

/** Per-job / per-stage wall-clock breakdown of one query (guide §1:
  * measure first). Runs the named query N times (first run warms codegen
  * and memos) and prints, for the LAST run, every Spark job with its
  * duration, stages run / stages listed (the rest were skipped, their
  * shuffle output reused), task count and description — the data that
  * tells an overhead-bound query (many ~0.3 s jobs) apart from a
  * compute-bound one (one slow stage). Not part of the driver contract.
  *
  *   sbt "runMain graft.tools.JobProfile d07_dedup_clusters 2"
  */
object JobProfile {
  private case class JobRec(id: Int, desc: String, start: Long, listed: Int,
    var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = args.headOption.getOrElse("d07_dedup_clusters")
    val n = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val byId = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    // a stage is credited to the job that lists it at job start — not
    // to the newest job, which may be a later or overlapping broadcast
    // job; a stage shared by several jobs runs (and is credited) once
    val jobOfStage = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        val r = JobRec(e.jobId, desc, e.time, e.stageIds.size)
        byId(e.jobId) = r
        e.stageIds.foreach(sid => jobOfStage.putIfAbsent(sid, r))
        jobs.add(r)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        byId.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobOfStage.get(e.stageInfo.stageId).foreach { r =>
          r.stages += 1
          r.tasks += e.stageInfo.numTasks
        }
    })

    val fn = SparkEntry.queries(q)
    for (i <- 1 to n) {
      if (i == n) collecting = true
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[profile] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    Thread.sleep(300) // drain listener bus
    import scala.jdk.CollectionConverters._
    val rs = jobs.asScala.toSeq.sortBy(_.start)
    val total = rs.map(r => math.max(0L, r.end - r.start)).sum
    println(f"[profile] last run: ${rs.size} jobs, sum job wall ${total / 1e3}%.2f s")
    rs.foreach { r =>
      println(f"[profile]   job ${r.id}%4d ${(r.end - r.start) / 1e3}%7.3f s  " +
        f"stages=${r.stages}%3d/${r.listed}%-3d tasks=${r.tasks}%5d  ${r.desc.take(90)}")
    }
    spark.stop()
  }
}
