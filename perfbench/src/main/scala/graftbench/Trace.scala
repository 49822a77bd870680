package graftbench

import graft.offset.{OffsetStore, OffsetValue}
import graft.pipeline.{BookkeeperStore, RunRecord}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. Task figures are summed over
  * the job's stages. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, group: String, description: String,
                        sqlExec: Long, tasks: Int, stages: Int, taskMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** One SQL execution: listener timing plus what its plan did. */
final case class QueryRec(execId: Long, startMs: Long, endMs: Long, planningMs: Long,
                          writes: Seq[WriteRec], scans: Seq[ScanRec], failed: Boolean)
final case class WriteRec(path: String, files: Long, bytes: Long, rows: Long)
final case class ScanRec(roots: Seq[String], files: Long, partitionsRead: Long,
                         partitionsTotal: Long, metadataMs: Long)

/** Records jobs, tasks and SQL executions. Installed only for traced
  * runs; everything is kept in memory and read after the listener bus
  * drains. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private final class Open(val id: Int, val startMs: Long, val group: String, val desc: String,
                           val sqlExec: Long, val stageIds: Seq[Int]) {
    val taskMs = new AtomicLong; val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val shW = new AtomicLong; val shR = new AtomicLong; val spill = new AtomicLong
    val tasks = new AtomicLong
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val sqlEnd = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** Plans by QueryExecution id, and SQL execution id -> that id. */
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Seq[WriteRec], Seq[ScanRec], Boolean)]()
  private val execQuery = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val ids = e.stageInfos.map(_.stageId)
    // the first job to announce a stage keeps its tasks
    ids.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    open.put(e.jobId, new Open(e.jobId, e.time, prop("spark.jobGroup.id"), prop("spark.job.description"),
      scala.util.Try(prop("spark.sql.execution.id").toLong).getOrElse(-1L), ids))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val jid = stageJob.get(e.stageId)
    val o = if (jid == null) null else open.get(jid)
    if (o != null && e.taskInfo != null) {
      o.tasks.incrementAndGet()
      o.taskMs.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        o.cpuNs.addAndGet(m.executorCpuTime)
        o.gcMs.addAndGet(m.jvmGCTime)
        o.shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        o.shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        o.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o != null) {
      val ranStages = o.stageIds.count(s => stageJob.get(s) == e.jobId)
      jobs.add(JobRec(o.id, o.startMs, e.time, o.group, o.desc, o.sqlExec, o.tasks.get.toInt,
        ranStages, o.taskMs.get, o.cpuNs.get, o.gcMs.get, o.shW.get, o.shR.get, o.spill.get))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      sqlEnd.put(s.executionId, s.time)
      org.apache.spark.sql.BenchAccess.queryId(s).foreach(q => execQuery.put(s.executionId, q))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.put(qe.id, describe(qe, failed = false))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plans.put(qe.id, describe(qe, failed = true))

  private def describe(qe: QueryExecution, failed: Boolean) = {
    val planning = scala.util.Try(qe.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
    val nodes = scala.util.Try(Recorder.flatten(qe.executedPlan)).getOrElse(Nil)
    val writes = nodes.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
          Some(WriteRec(c.outputPath.toUri.getPath, m("numFiles"), m("numOutputBytes"), m("numOutputRows")))
        case _ => None
      }
    }.flatten
    val scans = nodes.collect { case s: FileSourceScanExec =>
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val total = s.relation.location match {
        case p: PartitioningAwareFileIndex => scala.util.Try(p.partitionSpec().partitions.size.toLong).getOrElse(0L)
        case _ => 0L
      }
      ScanRec(s.relation.location.rootPaths.map(_.toUri.getPath), m("numFiles"), m("numPartitions"),
        total, m("metadataTime"))
    }
    (planning, writes, scans, failed)
  }

  /** Jobs that overlap [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.endMs >= from && j.startMs <= to).toSeq.sortBy(_.startMs)

  /** SQL executions that ended inside [from, to], with their plans. */
  def queriesIn(from: Long, to: Long): Seq[QueryRec] =
    sqlEnd.asScala.toSeq.collect { case (id, end) if end >= from && end <= to =>
      val start = Option(sqlStart.get(id)).map(_.longValue).getOrElse(end)
      val (planning, writes, scans, failed) =
        Option(execQuery.get(id)).flatMap(q => Option(plans.get(q))).getOrElse((0L, Seq.empty[WriteRec], Seq.empty[ScanRec], false))
      QueryRec(id, start, end, planning, writes, scans, failed)
    }.sortBy(_.startMs)

  /** Active (started, not ended) jobs and their groups. */
  def activeGroups: Set[String] = open.values.asScala.map(_.group).filter(_.nonEmpty).toSet

  def clear(): Unit = {
    jobs.clear(); sqlStart.clear(); sqlEnd.clear(); plans.clear(); execQuery.clear(); stageJob.clear()
  }
}

object Recorder {
  /** All physical nodes, looking through adaptive and command wrappers. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case c: CommandResultExec => c +: flatten(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => r +: flatten(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  def uninstall(spark: SparkSession, r: Recorder): Unit = {
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
  }
}

/** Call counter with summed wall time, for the store decorators. */
final class CallTimer {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  def apply[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally { nanos.addAndGet(System.nanoTime() - t0); calls.incrementAndGet() }
  }
  def ms: Double = nanos.get / 1e6
  def reset(): Unit = { calls.set(0); nanos.set(0) }
}

/** Times every call into a bookkeeper (the orchestrator's journal). */
final class TimedBookkeeper(delegate: BookkeeperStore, t: CallTimer) extends BookkeeperStore {
  override def record(r: RunRecord): Unit = t(delegate.record(r))
  override def get(table: String, infoDate: LocalDate): Option[RunRecord] = t(delegate.get(table, infoDate))
  override def isAlreadyRan(table: String, infoDate: LocalDate): Boolean = t(delegate.isAlreadyRan(table, infoDate))
  override def latestSuccess(table: String): Option[LocalDate] = t(delegate.latestSuccess(table))
  override def latestSuccessRecord(table: String, until: LocalDate): Option[RunRecord] =
    t(delegate.latestSuccessRecord(table, until))
  override def all: Seq[RunRecord] = t(delegate.all)
}

/** Times offset lookups and commits separately. */
final class TimedOffsetStore(delegate: OffsetStore, gets: CallTimer, commits: CallTimer) extends OffsetStore {
  override def supports(offsetType: String): Boolean = delegate.supports(offsetType)
  override def getLatestOffset(table: String): Option[OffsetValue] = gets(delegate.getLatestOffset(table))
  override def commit(table: String, offset: OffsetValue): Unit = commits(delegate.commit(table, offset))
}

/** A traced interval. Spans of one iteration share `iteration`; the
  * layer is one of iteration, pipeline, task, query, job. */
final case class Span(id: Long, parent: Long, layer: String, name: String, startMs: Long, endMs: Long)

object Spans {
  val Layers: Seq[String] = Seq("iteration", "pipeline", "task", "query", "job")

  /** Self time per layer: each span's duration minus the part of it
    * that its children cover. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    Stats.attribute[Span](spans, s => Some(s.layer), s => {
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      Stats.uncovered((s.startMs, s.endMs), kids) / 1000.0
    })
  }

  /** Parent of an interval: the innermost candidate containing its
    * midpoint, else the fallback. */
  def parentOf(candidates: Seq[Span], startMs: Long, endMs: Long, fallback: Long): Long = {
    val mid = (startMs + endMs) / 2
    candidates.filter(c => c.startMs <= mid && mid <= c.endMs)
      .sortBy(c => c.endMs - c.startMs).headOption.map(_.id).getOrElse(fallback)
  }
}
