package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-global state). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the descriptions of the Spark jobs it
    * launches on this thread, counted under a unique job tag. A tagged
    * sentinel job runs last and is waited for, so every earlier tagged
    * job has been seen. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val (r, jobs, _) = tagged(body)
    (r, jobs)
  }

  /** `body`'s result and the number of SQL executions (one per action)
    * it starts on this thread — steadier than a job count, since AQE
    * splits one action into a varying number of stage jobs. */
  def queriesOf[T](body: => T): (T, Int) = {
    val (r, _, queries) = tagged(body)
    (r, queries)
  }

  private def tagged[T](body: => T): (T, Seq[String], Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-of-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val queries = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.tags"))).exists(_.split(",").contains(tag)))
          seen.add(p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""))
      }
      override def onOtherEvent(ev: org.apache.spark.scheduler.SparkListenerEvent): Unit = ev match {
        case q: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if q.jobTags.contains(tag) => queries.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val result = try {
      val r = body
      sc.setJobDescription(tag)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L // the listener bus may lag under suite load
      while (!seen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(tag), "the listener never saw the sentinel job")
      r
    } finally {
      sc.setJobDescription(null)
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    (result, seen.asScala.toSeq.filterNot(_ == tag), queries.get())
  }

  /** All file scans in an EXECUTED plan, descending through AQE
    * wrappers and materialized query stages (plain `.collect` on an
    * `AdaptiveSparkPlanExec` sees no children — stages are not tree
    * children — so plan asserts on AQE queries would silently pass on
    * an empty list). Run the query before calling this. */
  def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      here ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("spark_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
