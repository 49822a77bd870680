// Diagnostic tool: run one SparkEntry query through the noop sink with
// a listener that prints every Spark job's duration, description and
// stage breakdown — attributes a composed operator's wall time to its
// internal jobs (fits, checkpoints, counts). Same compile recipe as
// ExplainDump.
//
//   java -cp "/tmp/ed:$CP" $JOPTS JobProfile /root/testdata/sf0.1 q_curation_v2 [runs]
import org.apache.spark.scheduler._
import scala.collection.mutable

object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class JobRec(id: Int, t0: Long, var t1: Long = 0L, desc: String,
                      var nTasks: Int = 0, var taskTime: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    // stageId -> jobId (ADVICE r20): tasks used to be attributed to the
    // newest unfinished job, which misreports exactly the overlapped
    // (concurrent-job) operators this tool exists to profile. A stage
    // shared by several jobs stays with the first job that announced it.
    val stageJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, e.time, desc = d)
          e.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, e.jobId))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.nTasks += 1
          if (e.taskInfo != null) j.taskTime += e.taskInfo.duration
        }
      }
    }
    // warm like Bench does
    spark.read.parquet(s"$dir/nation.parquet").write.format("noop").mode("overwrite").save()
    val fn = graft.SparkEntry.queries(name)
    for (r <- 1 to runs) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      jobs.synchronized { jobs.clear(); stageJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let straggler events drain
      println(f"== run $r: $name wall=$wall%.3f s, ${jobs.size} jobs")
      var prevEnd = 0L
      jobs.synchronized(jobs.values.toSeq).sortBy(_.t0).foreach { j =>
        val dur = (j.t1 - j.t0) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = j.t1
        println(f"  job ${j.id}%3d ${dur}%8.3f s  gap=${gap}%7.3f s  tasks=${j.nTasks}%4d  taskSum=${j.taskTime / 1e3}%8.3f s  ${j.desc.take(100)}")
      }
    }
    spark.stop()
  }
}
