package graft.pipeline

import graft.expr.DateExpr
import graft.meta.Metastore

import java.time.LocalDate
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/**
 * A pipeline job: transformer + output table + declared inputs
 * (reference: pramen/core .../core/pipeline/Job.scala,
 * api/jobdef/TransformerDef).
 *
 * @param infoDateExpr    date-DSL expression deriving the information
 *                        date from `@runDate` (e.g. `"@runDate - 1"`).
 * @param retries         additional attempts after a failed run (the
 *                        reference runner's task retry policy).
 * @param trackDays       how many days back to watch inputs for
 *                        late-arriving data: an input success recorded
 *                        AFTER this job's output ran triggers a re-run
 *                        of the affected info date (reference:
 *                        api/status/MetastoreDependency trackDays).
 * @param initialDateExpr info date to start catch-up from when the job
 *                        has never run (reference: the runner's
 *                        initial.sourcing.date.expr).
 * @param sink            when set, the transformer's output goes to
 *                        this sink INSTEAD of a metastore table —
 *                        `outputTable` becomes a virtual name (the
 *                        reference's "table->sink" convention) used
 *                        for bookkeeping, locking and DAG edges only
 *                        (reference: pramen/core
 *                        .../core/pipeline/SinkJob.scala,
 *                        TransferJob.scala).
 * @param outputTransforms declarative column rewrites applied to the
 *                        job's output before it is saved/sent, in
 *                        order (later transforms see earlier ones);
 *                        empty/"drop" expression drops the column
 *                        (reference: api/jobdef/TransformExpression,
 *                        core/utils/SparkUtils.applyTransformations).
 * @param outputFilters   SQL predicates applied after the transforms;
 *                        `@infoDate` substitutes the task's info date
 *                        as a date literal (reference:
 *                        SparkUtils.applyFilters).
 * @param outputColumns   final projection after transforms + filters
 *                        (reference: OperationDef columns).
 * @param minimumRecords  fail the task when the output has fewer rows
 *                        (the partition IS saved — the failure marks
 *                        the run for re-delivery, it doesn't roll the
 *                        write back); 0 disables (reference: pramen's
 *                        minimum.records / fail.if.no.data options).
 * @param sparkConf       session conf overrides set for the duration
 *                        of this job's run and restored after —
 *                        per-operation tuning such as
 *                        spark.sql.shuffle.partitions for a small
 *                        dimension job (reference: OperationDef
 *                        extraOptions / spark.conf block).
 * @param optionalInputs  inputs whose producing job may fail without
 *                        skipping this job (the reference's optional
 *                        MetastoreDependency): the transformer then
 *                        decides via `validate` whether it can run
 *                        from what's available.
 * @param isCritical      a failure of this job aborts the whole
 *                        pipeline: jobs not yet started are skipped
 *                        (reference: OperationDef isCritical).
 * @param alwaysAttempt   run this job even when a required dependency
 *                        job failed — its own `validate` decides
 *                        whether stale inputs are usable (reference:
 *                        OperationDef alwaysAttempt).
 * @param ignoreSchemaChange don't track/flag schema evolution for this
 *                        job's saves — for tables whose schema drifts
 *                        by design (reference: ignore.schema.change).
 * @param consumeThreads  how many of the orchestrator's `parallelism`
 *                        slots this job occupies while running — a
 *                        heavy job can claim several slots so fewer
 *                        siblings run beside it (reference:
 *                        OperationDef consumeThreads).
 * @param processingTimestampColumn when set, a timestamp column of
 *                        this name (the task's start instant, one
 *                        value per task) is added to the output
 *                        (reference: processing.timestamp.column).
 * @param expectedDelayDays source data for this job arrives N days
 *                        late: Normal-mode runs shift the effective
 *                        run date back by N, so the slot is attempted
 *                        only once its data can exist (reference:
 *                        expected.delay.days).
 * @param warnMaxExecutionTimeSeconds attach a warning to the task
 *                        result (and notifications) when the task ran
 *                        longer than this (reference:
 *                        warn.maximum.execution.time.seconds).
 * @param killMaxExecutionTimeSeconds fail the attempt when it exceeds
 *                        this wall-clock budget — a hung source can't
 *                        pin the pipeline forever (reference:
 *                        kill.maximum.execution.time.seconds).
 */
final case class JobDef(
    name: String,
    outputTable: String,
    transformer: Transformer,
    inputTables: Seq[String] = Seq.empty,
    schedule: Schedule = Schedule.Daily(),
    infoDateExpr: String = "@runDate",
    options: Map[String, String] = Map.empty,
    retries: Int = 0,
    trackDays: Int = 0,
    initialDateExpr: String = "@runDate",
    sink: Option[SinkTarget] = None,
    outputTransforms: Seq[OutputTransform] = Seq.empty,
    outputFilters: Seq[String] = Seq.empty,
    outputColumns: Seq[String] = Seq.empty,
    minimumRecords: Long = 0L,
    sparkConf: Map[String, String] = Map.empty,
    optionalInputs: Set[String] = Set.empty,
    dependencies: Seq[Dependency] = Seq.empty,
    isCritical: Boolean = false,
    alwaysAttempt: Boolean = false,
    ignoreSchemaChange: Boolean = false,
    consumeThreads: Int = 1,
    processingTimestampColumn: Option[String] = None,
    expectedDelayDays: Int = 0,
    warnMaxExecutionTimeSeconds: Option[Int] = None,
    killMaxExecutionTimeSeconds: Option[Int] = None,
    /** Lazy (on-demand) job: never scheduled; materialized when a
      * downstream transformer reads its output table (reference:
      * TransientJobManager). */
    isLazy: Boolean = false,
    /** Attach a warning when the task's records/second falls below
      * this — a 10× slowdown of a nightly ingest is an incident
      * brewing even while every run still "succeeds" (reference:
      * pramen.warn.throughput.rps, Keys.scala + reference.conf:103).
      * 0 disables. Guards in [[Throughput]] keep short/small tasks
      * out (their rps is all fixed overhead). */
    warnMinRps: Int = 0)

/** Records-per-second policy for task results (reference:
  * core/notify/pipeline/PipelineNotificationBuilderHtml.scala:516-550 —
  * the reference styles the report's rps cell by the warn/good
  * thresholds; graft routes the same signal through the task-warning
  * channel, so it reaches EVERY notification target and flips the
  * task to WARNING status instead of only coloring HTML). */
object Throughput {
  /** The reference's guards: rps is meaningless for tasks that ran
    * shorter than a minute or moved fewer than 1000 records. */
  val MinDurationSeconds = 60L
  val MinRecords = 1000L

  /** Records/second, or None when the guards say the number would be
    * fixed-overhead noise. */
  def rps(records: Long, elapsedMs: Long,
          minDurationSeconds: Long = MinDurationSeconds,
          minRecords: Long = MinRecords): Option[Long] = {
    val secs = elapsedMs / 1000
    if (secs > minDurationSeconds && records >= minRecords) Some(records / secs) else None
  }

  def warning(records: Long, elapsedMs: Long, warnMinRps: Int,
              minDurationSeconds: Long = MinDurationSeconds,
              minRecords: Long = MinRecords): Option[String] =
    if (warnMinRps <= 0) None
    else rps(records, elapsedMs, minDurationSeconds, minRecords)
      .filter(_ < warnMinRps)
      .map(r => s"throughput $r r/s is below the warn.throughput.rps threshold of $warnMinRps r/s")
}

/** One declarative output rewrite: `column <- expression`; a missing,
  * empty or literal-"drop" expression drops the column instead. */
final case class OutputTransform(column: String, expression: Option[String])

/**
 * A declarative date-windowed dependency (reference: pramen/api
 * .../api/status/MetastoreDependency.scala): before the task runs,
 * every listed table must have data in the window derived from the
 * task's info date by the date-expression DSL, else the task is
 * NotReady and dependents skip. By default ONE partition anywhere in
 * the window satisfies (the reference's isDataAvailable contract);
 * a weekly roll-up that must see the complete week sets
 * `requireAll = true` — e.g. `dateFromExpr = "@infoDate - 6",
 * requireAll = true` refuses to run until all 7 days landed.
 *
 * @param dateUntilExpr  window end; unset = up to the info date
 * @param optional       missing data does not gate the run — the
 *                       transformer's own `validate` decides
 * @param passive        tracked for update detection only (implies
 *                       the triggerUpdates watch); adds no DAG edge
 *                       and never gates
 * @param triggerUpdates a late landing in these tables re-runs this
 *                       job's already-succeeded dates (feeds the
 *                       trackDays late-data machinery)
 * @param requireAll     gate on EVERY calendar date of the window
 *                       having data, not just one partition — the
 *                       complete-week contract for roll-ups; default
 *                       false matches the reference's isDataAvailable
 *                       (any partition in the window satisfies)
 */
final case class Dependency(
    tables: Seq[String],
    dateFromExpr: String,
    dateUntilExpr: Option[String] = None,
    optional: Boolean = false,
    passive: Boolean = false,
    triggerUpdates: Boolean = false,
    requireAll: Boolean = false)

object OutputTransform {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, expr}

  /** Shape a job's output: transforms (in order) → filters (with
    * `@infoDate` substituted) → column projection. Purely
    * declarative — every step stays inside the job's single Catalyst
    * plan, so filters still push down and unused transform columns
    * are pruned. */
  def shape(df: DataFrame, job: JobDef, infoDate: LocalDate): DataFrame = {
    val transformed = job.outputTransforms.foldLeft(df) { (acc, t) =>
      t.expression.map(_.trim).filter(e => e.nonEmpty && !e.equalsIgnoreCase("drop")) match {
        case Some(e) => acc.withColumn(t.column, expr(e))
        case None => acc.drop(t.column)
      }
    }
    val filtered = job.outputFilters.foldLeft(transformed)((acc, f) =>
      acc.filter(expr(f.replace("@infoDate", s"date'$infoDate'"))))
    if (job.outputColumns.nonEmpty) filtered.select(job.outputColumns.map(col): _*)
    else filtered
  }
}

/** A sink destination for a sink/transfer job: the sink plus the
  * logical table name handed to `GraftSink.send` (sinks key their
  * output layout by it). */
final case class SinkTarget(sink: graft.sinks.GraftSink, tableName: String)

sealed trait TaskResult { def job: String }
object TaskResult {
  /** @param warnings non-fatal conditions surfaced to notifications:
    *   validation `Reason.Warning` messages and execution-time budget
    *   overruns (reference: RunStatus warnings). */
  final case class Succeeded(job: String, table: String, infoDate: LocalDate, records: Long,
                             warnings: Seq[String] = Nil) extends TaskResult
  final case class Skipped(job: String, reason: String) extends TaskResult
  final case class Failed(job: String, error: Throwable) extends TaskResult
  final case class NotReady(job: String, reason: String) extends TaskResult
}

/**
 * Dependency-resolving parallel pipeline runner
 * (reference: pramen/core .../core/runner/orchestrator/OrchestratorImpl.scala,
 * core/runner/jobrunner/ConcurrentJobRunnerImpl.scala).
 *
 * [[runWith]] is the one run surface: [[RunParams]] decide which info
 * dates each job runs ([[ScheduleStrategy.daysToRun]]); [[run]] is the
 * `RunParams.Normal(runDate, newOnly = true)` shorthand.
 *
 * Topologically orders jobs by (outputTable -> inputTables) edges and
 * runs every job whose dependencies are satisfied concurrently (the
 * reference's parallel task runner). Already-succeeded (table,
 * infoDate) pairs are skipped via the bookkeeper — auto-healing
 * re-runs only what's missing. Job-level parallelism multiplies
 * cluster utilization when independent branches exist; within a job,
 * Spark's own parallelism does the heavy lifting.
 */
final class Orchestrator(
    metastore: Metastore,
    bookkeeper: BookkeeperStore = new Bookkeeper(),
    parallelism: Int = 4,
    notifiers: Seq[PipelineNotificationTarget] = Seq.empty,
    lockDir: Option[String] = None,
    offsetManager: Option[graft.offset.OffsetStore] = None,
    pipelineName: String = "pipeline",
    environment: String = "local",
    lockFactory: Option[(String, LocalDate) => RunLock] = None,
    state: Option[PipelineState] = None,
    /** Allow several jobs to write one table (reference:
      * `pramen.enable.multiple.jobs.per.table`, GeneralConfig.scala:28
      * relaxing the DependencyResolver's duplicate-output validation) —
      * for producers on DISJOINT schedules/date spaces (intraday +
      * end-of-day into one table). Same sharp edge as the reference:
      * bookkeeping is keyed (table, infoDate), so two jobs writing the
      * SAME date see each other as already-done; the per-(table, date)
      * run lock serializes any overlap. Dependents wait on ALL
      * producers. */
    enableMultipleJobsPerTable: Boolean = false) {

  /** Per-task lock source: an explicit factory (e.g. database locks
    * via `graft.rdb.TokenLockJdbc`) wins over the FS `lock.dir`. */
  private val lockProvider: Option[(String, LocalDate) => RunLock] =
    lockFactory.orElse(lockDir.map(d =>
      (table: String, infoDate: LocalDate) => TokenLock.forPartition(d, table, infoDate)))

  /** Completion context for notification targets: status rolls up the
    * task results ("failed" > "warning" > "not_ready" > "succeeded").
    * A run where nothing succeeded and something was NotReady must NOT
    * report green — the pipeline processed no data and operators need
    * to see that. */
  private def pipelineInfo(runDate: LocalDate, startedAtMs: Long,
                           rs: Seq[TaskResult]): PipelineInfo = {
    val firstFailure = rs.collectFirst { case TaskResult.Failed(_, e) => e }
    val hasWarnings = rs.exists {
      case TaskResult.Succeeded(_, _, _, _, ws) => ws.nonEmpty
      case _ => false
    }
    val nothingRan = !rs.exists(_.isInstanceOf[TaskResult.Succeeded]) &&
      rs.exists(_.isInstanceOf[TaskResult.NotReady])
    PipelineInfo(pipelineName, environment, runDate, startedAtMs,
      System.currentTimeMillis(),
      scala.util.Try(org.apache.spark.sql.SparkSession.active.sparkContext.applicationId).toOption,
      status = if (firstFailure.isDefined) "failed"
               else if (hasWarnings) "warning"
               else if (nothingRan) "not_ready"
               else "succeeded",
      failureException = firstFailure)
  }

  /** Lazy jobs come OUT of the scheduled tree and INTO the on-demand
    * registry the readers resolve through. */
  private val lazyJobs = new LazyJobManager(metastore)
  private def splitLazy(jobs: Seq[JobDef]): Seq[JobDef] = {
    val (lz, scheduled) = jobs.partition(_.isLazy)
    // a lazy and a scheduled producer of one table would race: the
    // reader materializes the lazy one while the scheduled one also
    // writes the date. validateDag never sees the pair (it checks the
    // scheduled tree only), so reject the collision here — even under
    // enableMultipleJobsPerTable, whose contract covers scheduled
    // producers on disjoint schedules, not on-demand materialization
    val scheduledOut = scheduled.map(_.outputTable).toSet
    val collide = lz.map(_.outputTable).filter(scheduledOut.contains).distinct
    require(collide.isEmpty,
      s"table(s) ${collide.mkString(", ")} have both a lazy and a scheduled producer")
    lz.foreach(lazyJobs.register)
    scheduled
  }

  /** Today's slot only: shorthand for `runWith` under
    * `RunParams.Normal(runDate, newOnly = true)`. A forced re-run of a
    * completed date is `runWith(jobs, RunParams.Rerun(date))`. */
  def run(jobs: Seq[JobDef], runDate: LocalDate): Seq[TaskResult] =
    runWith(jobs, RunParams.Normal(runDate, newOnly = true))

  /**
   * Run under explicit run params — the daily-operations entry point
   * (reference: pramen/core .../core/runner/splitter):
   *
   *  - `RunParams.Normal`: today's slot + automatic catch-up of missed
   *    slots (`Late`) + re-runs of dates whose inputs landed after the
   *    output ran (`Update`, within each job's `trackDays`); with
   *    `newOnly` (what [[run]] passes) today's slot alone;
   *  - `RunParams.Rerun`: force one date;
   *  - `RunParams.Historical`: `--date-from/--date-to` backfill,
   *    fill-gaps or force-rerun.
   *
   * Dates are decided per job by [[ScheduleStrategy.daysToRun]] and
   * executed in date order; jobs still run in dependency (topological)
   * order with independent branches in parallel, so a multi-day
   * backfill completes table-by-table for each date with parents
   * before children.
   *
   * @param dateParallelism how many of one job's dates run
   *        concurrently. Default 1 (sequential, date order) — always
   *        correct, required for cumulative tables whose day N reads
   *        day N-1. Raise it for jobs whose dates are independent
   *        (ingestion, per-day transforms): a 4,000-partition
   *        historical backfill at 1 date a time starves a big
   *        cluster; at 8–16 the writes pipeline while Spark
   *        parallelizes within each date as usual. Different dates
   *        write different partitions, so concurrent saves don't
   *        conflict.
   */
  def runWith(jobs: Seq[JobDef], params: RunParams,
              minimumDate: Option[LocalDate] = None,
              dateParallelism: Int = 1): Seq[TaskResult] = {
    require(dateParallelism >= 1, s"dateParallelism must be >= 1: $dateParallelism")
    // incremental consumption is inherently sequential: two dates of
    // the same job running concurrently would BOTH read "past the
    // committed offset" before either commits, consuming the same
    // delta twice
    require(dateParallelism == 1 || offsetManager.isEmpty,
      "dateParallelism > 1 cannot be combined with an offset manager: " +
        "concurrent dates would consume the same incremental delta twice")
    val asOf = params match {
      case RunParams.Normal(d, _, _) => d
      case RunParams.Rerun(d) => d
      case RunParams.Historical(_, to, _, _) => to
    }
    val startedAtMs = System.currentTimeMillis()
    def runTask(job: JobDef)(t: TaskPreDef): TaskResult = {
      val force = t.reason == RunReason.Rerun || t.reason == RunReason.Update
      val r =
        if (!force && bookkeeper.isAlreadyRan(job.outputTable, t.infoDate))
          TaskResult.Skipped(job.name, s"already succeeded for ${t.infoDate}")
        else executeTask(job, t.infoDate, reason = t.reason.toString)
      notifiers.foreach(_.onTaskCompleted(r, asOf))
      r
    }
    runTree(splitLazy(jobs), job => {
      val tasks = ScheduleStrategy.daysToRun(job, bookkeeper, params, minimumDate)
      if (tasks.isEmpty) Seq(TaskResult.Skipped(job.name, s"nothing to run for $params"))
      else if (dateParallelism == 1) tasks.map(runTask(job))
      else {
        val pool = Executors.newFixedThreadPool(dateParallelism)
        val ec = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(tasks.map(t => Future(runTask(job)(t))(ec)))(
            implicitly, ec), Duration.Inf)
        finally pool.shutdown()
      }
    }, rs => {
      state.foreach(_.pipelineCompleted()) // disarm the shutdown hook first
      notifiers.foreach(_.onPipelineCompletedInfo(pipelineInfo(asOf, startedAtMs, rs), rs))
    })
  }

  /**
   * Dry run: the (job → dates+reasons) plan `runWith` would execute,
   * without executing anything — the operator's pre-flight check for
   * backfills ("which 4,000 partitions will this touch?") before
   * committing a cluster to them. Uses the same strategy code path,
   * so the plan IS what a real run would do given unchanged
   * bookkeeping. Update-cascade caveat: parents' re-runs happen
   * during a real run and can add child Update dates the dry run
   * cannot see yet.
   */
  def plan(jobs: Seq[JobDef], params: RunParams,
           minimumDate: Option[LocalDate] = None): Seq[(JobDef, Seq[TaskPreDef])] = {
    val scheduled = jobs.filterNot(_.isLazy)
    validateDag(scheduled)
    scheduled.map(j => j -> ScheduleStrategy.daysToRun(j, bookkeeper, params, minimumDate).toSeq)
  }

  /** Dependency-ordered parallel execution skeleton: each job's body
    * runs after all jobs producing its inputs; a failed dependency
    * task skips the dependent job (unless the job opts into
    * `alwaysAttempt`). Concurrency is bounded by a fair semaphore of
    * `parallelism` permits; a job holds `consumeThreads` of them while
    * its body runs, so a heavy job keeps siblings off the cluster. A
    * failed `isCritical` job flips the abort flag: bodies not yet
    * started turn into skips. */
  private def runTree(jobs: Seq[JobDef], body: JobDef => Seq[TaskResult],
                      onDone: Seq[TaskResult] => Unit): Seq[TaskResult] = {
    validateDag(jobs)
    val byOutput = producersOf(jobs)
    // cached pool + semaphore rather than a fixed pool: permit waiters
    // park in their own threads, so weighted acquisition can never
    // deadlock against the thread budget
    val pool = Executors.newCachedThreadPool()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val slots = new java.util.concurrent.Semaphore(parallelism, true)
    val aborted = new java.util.concurrent.atomic.AtomicReference[String](null)
    val futures = scala.collection.mutable.Map.empty[String, Future[Seq[TaskResult]]]

    def runBody(job: JobDef): Seq[TaskResult] = {
      val permits = math.min(math.max(job.consumeThreads, 1), parallelism)
      slots.acquire(permits)
      try {
        val crit = aborted.get()
        if (crit != null)
          Seq(TaskResult.Skipped(job.name, s"pipeline aborted: critical job '$crit' failed"))
        else {
          val rs = withSparkConf(job.sparkConf)(body(job))
          if (job.isCritical && rs.exists(_.isInstanceOf[TaskResult.Failed]))
            aborted.compareAndSet(null, job.name)
          rs
        }
      } finally slots.release(permits)
    }

    def futureFor(job: JobDef): Future[Seq[TaskResult]] = futures.synchronized {
      futures.getOrElseUpdate(job.name, {
        // DAG edges: declared inputs plus non-passive dependency tables
        // (passive deps are tracked for update detection only)
        val edgeTables = job.inputTables ++
          job.dependencies.filterNot(_.passive).flatMap(_.tables)
        val depJobs = edgeTables.distinct.flatMap(t => byOutput.getOrElse(t, Nil))
          .filterNot(_.name == job.name)
        val depsF = Future.sequence(depJobs.map(futureFor))
        depsF.map { deps =>
          // optional (passive) dependencies may fail without blocking
          // this job — the transformer's validate decides whether it
          // can run from what's available (reference: optional
          // MetastoreDependency)
          val optionalTables = job.optionalInputs ++
            job.dependencies.filter(_.optional).flatMap(_.tables)
          val required = depJobs.zip(deps).filterNot {
            case (d, _) => optionalTables.contains(d.outputTable)
          }
          // a NotReady parent gates like a failed one: its output for
          // this date was NOT produced, and running the dependent
          // would silently read the stale prior partition
          val failedDep = required.flatMap(_._2).collectFirst {
            case f: TaskResult.Failed => (f.job, "failed")
            case nr: TaskResult.NotReady => (nr.job, "not ready")
          }
          failedDep match {
            // alwaysAttempt: the job runs despite the failed parent —
            // its validate sees what data actually exists and decides
            case Some((dep, why)) if !job.alwaysAttempt =>
              Seq(TaskResult.Skipped(job.name, s"dependency '$dep' $why"))
            // conf overrides wrap ALL of the job's dates (so concurrent
            // dates of one job never race on restore). The overrides
            // mutate the SHARED session conf: every job running
            // concurrently with this one executes under these values
            // until the restore — not just jobs touching the same key.
            // Keep sparkConf-carrying jobs serial (parallelism = 1) or
            // give them a dedicated spark.newSession() when that
            // cross-talk matters.
            case _ => runBody(job)
          }
        }
      })
    }

    val results = Try(Await.result(Future.sequence(jobs.map(futureFor)), Duration.Inf))
    pool.shutdown()
    results match {
      case Success(rs) =>
        val flat = rs.flatten
        onDone(flat)
        flat
      case Failure(e) => throw e
    }
  }

  /** Run one (job, infoDate) task: validate, lock, retry, record.
    * Schedule/bookkeeping decisions happen in the caller. */
  private def executeTask(job: JobDef, infoDate: LocalDate, reason: String): TaskResult = {
    val incCtx = offsetManager.map(om =>
      new graft.meta.MetastoreReader.IncrementalContext(job.outputTable, om))
    val reader = metastore.readerFor(
      if (job.inputTables.nonEmpty) Some(job.inputTables.toSet) else None, incCtx,
      currentInfoDate = Some(infoDate),
      runReason = reason,
      runInfo = (t, d) => bookkeeper.get(t, d).map(r =>
        graft.meta.TableRunInfo(r.table, r.infoDate, r.recordCount, r.status,
          r.startedAtMs, r.finishedAtMs)),
      lazyResolve = if (lazyJobs.isEmpty) None else Some(lazyJobs.ensure))
    val t0 = System.currentTimeMillis()
    // declarative dependency windows gate BEFORE validate: a gating
    // table without data inside its derived window leaves the task
    // NotReady (dependents skip too), the reference's
    // MissingDependencies semantics. Default = at least one partition
    // in the window (the reference's isDataAvailable contract);
    // requireAll = every calendar date present. An unregistered table
    // is reported as NotReady, not thrown — a config typo must fail
    // THIS task, not abort the whole pipeline's future tree.
    val missingDeps = job.dependencies.filterNot(d => d.optional || d.passive).flatMap { d =>
      val ev = DateExpr("infoDate" -> infoDate, "date" -> infoDate)
      val from = ev.evalDate(d.dateFromExpr)
      val until = d.dateUntilExpr.map(ev.evalDate).getOrElse(infoDate)
      d.tables.flatMap { t =>
        if (!metastore.isTableRegistered(t)) Some(s"$t[not registered in metastore]")
        else if (from.isAfter(until))
          // inverted window: the date iteration below would be EMPTY, so
          // requireAll's forall passed vacuously and a misconfigured
          // window silently un-gated the job. Gate it instead.
          Some(s"$t[inverted window $from..$until]")
        else {
          val have = metastore.listAvailableDates(t)
            .filter(dd => !dd.isBefore(from) && !dd.isAfter(until)).toSet
          val satisfied =
            if (d.requireAll)
              Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(until)).forall(have.contains)
            else have.nonEmpty
          if (satisfied) None else Some(s"$t[$from..$until]")
        }
      }
    }
    if (missingDeps.nonEmpty)
      return TaskResult.NotReady(job.name,
        s"dependency window(s) not satisfied: ${missingDeps.mkString(", ")}")
    val validation = job.transformer.validate(reader, infoDate, job.options)
    validation match {
      case Reason.NotReady(msg) => TaskResult.NotReady(job.name, msg)
      case Reason.Skip(msg) =>
        // a durable skip: the slot is recorded done, so Normal-mode
        // catch-up won't keep re-offering it (reference: Reason.Skip)
        bookkeeper.record(RunRecord(job.outputTable, infoDate, 0L,
          "skipped", t0, System.currentTimeMillis()))
        TaskResult.Skipped(job.name, msg)
      case Reason.SkipOnce(msg) =>
        // skip THIS run only: nothing recorded, the next Normal run
        // offers the date again (reference: Reason.SkipOnce)
        TaskResult.Skipped(job.name, msg)
      case _ =>
        val validationWarnings = validation match {
          case Reason.Warning(m) => Seq(m)
          case _ => Nil
        }
        // cross-pipeline exclusion: two drivers writing the same
        // (table, infoDate) through shared storage exclude each other
        val lock = lockProvider.map(f => f(job.outputTable, infoDate))
        lock.foreach { lk =>
          if (!lk.tryAcquire())
            return TaskResult.Skipped(job.name,
              s"(${job.outputTable}, $infoDate) is locked by another pipeline")
        }
        // one job group per task attempt, set on whichever thread runs
        // the attempt: the kill-timeout handler AND the graceful-
        // shutdown path cancel cluster-side work through this tag
        val jobGroup = s"graft-task-${job.name}-$infoDate-$t0"
        val sc = metastore.session.sparkContext
        state.foreach(_.taskStarted(job.name, infoDate, lock,
          () => sc.cancelJobGroup(jobGroup)))
        def attempt(): Try[graft.meta.TableStats] = Try {
          sc.setJobGroup(jobGroup, s"graft task ${job.name} @ $infoDate",
            interruptOnCancel = true)
          try attemptBody() finally sc.clearJobGroup()
        }
        def attemptBody(): graft.meta.TableStats = {
          val shaped = OutputTransform.shape(
            job.transformer.run(reader, infoDate, job.options), job, infoDate)
          // one instant per task (the task's start), not per row —
          // deterministic within the task and stable across its retries
          val df = job.processingTimestampColumn.fold(shaped)(c =>
            shaped.withColumn(c, org.apache.spark.sql.functions.lit(
              new java.sql.Timestamp(t0))))
          job.sink match {
            case Some(st) => // sink/transfer job: data leaves the metastore
              val r = st.sink.send(df, st.tableName, infoDate, job.options)
              graft.meta.TableStats(r.recordsSent, None)
            case None =>
              val stats = metastore.saveTable(job.outputTable, infoDate, df,
                trackSchema = !job.ignoreSchemaChange)
              // post-save hook: same reader scope as run() — restricted
              // only when run()'s was — plus the fresh output partition
              job.transformer.postProcess(job.outputTable,
                metastore.readerFor(
                  if (job.inputTables.nonEmpty)
                    Some((job.inputTables :+ job.outputTable).toSet)
                  else None,
                  currentInfoDate = Some(infoDate)),
                infoDate, job.options)
              stats
          }
        }
        // wall-clock budget: a hung attempt (stuck source, dead
        // executor wait) is abandoned rather than pinning the slot
        // forever; the worker thread is interrupted best-effort and
        // runs as a daemon so an uninterruptible hang can't block exit
        def attemptBounded(): Try[graft.meta.TableStats] =
          job.killMaxExecutionTimeSeconds match {
            case None => attempt()
            case Some(budget) =>
              val ex = Executors.newSingleThreadExecutor(r => {
                val t = new Thread(r, s"graft-kill-budget-${job.name}")
                t.setDaemon(true)
                t
              })
              // job-group tag: interrupting the worker thread does NOT
              // stop Spark jobs it already submitted — they'd keep
              // burning the cluster after the "kill". attempt() tags
              // everything it submits (setJobGroup is thread-local, so
              // it must happen ON the worker thread) and the timeout
              // handler cancels the group on the cluster too.
              val fut = ex.submit(new java.util.concurrent.Callable[Try[graft.meta.TableStats]] {
                def call(): Try[graft.meta.TableStats] = attempt()
              })
              try fut.get(budget.toLong, java.util.concurrent.TimeUnit.SECONDS)
              catch {
                case _: java.util.concurrent.TimeoutException =>
                  fut.cancel(true)
                  sc.cancelJobGroup(jobGroup)
                  Failure(new java.util.concurrent.TimeoutException(
                    s"task killed after exceeding kill.maximum.execution.time of ${budget}s"))
                case e: java.util.concurrent.ExecutionException =>
                  Failure(Option(e.getCause).getOrElse(e))
              } finally ex.shutdownNow()
          }
        // retry policy: re-attempt transient failures up to job.retries.
        // A kill-timeout is NOT retried: cancel(true) is best-effort and
        // the abandoned attempt's write may still be executing — a retry
        // would race a second writer onto the same (table, infoDate)
        def attemptWithRetries(left: Int): Try[graft.meta.TableStats] =
          attemptBounded() match {
            case f @ Failure(_: java.util.concurrent.TimeoutException) => f
            case f: Failure[_] if left > 0 => attemptWithRetries(left - 1)
            case other => other
          }
        try {
          val result = attemptWithRetries(job.retries) match {
          case Success(stats) if stats.recordCount < job.minimumRecords =>
            // the write happened (no rollback) but the run is recorded
            // failed so skip-if-done re-delivers it once the source has
            // enough data (reference: pramen minimum.records semantics)
            bookkeeper.record(RunRecord(job.outputTable, infoDate, stats.recordCount,
              "failed", t0, System.currentTimeMillis()))
            TaskResult.Failed(job.name, new IllegalStateException(
              s"minimum.records not met: got ${stats.recordCount}, need ${job.minimumRecords}"))
          case Success(stats) =>
            incCtx.foreach(_.commitPending()) // advance offsets only on success
            val t1 = System.currentTimeMillis()
            val timeWarnings = job.warnMaxExecutionTimeSeconds.toSeq.collect {
              case budget if (t1 - t0) / 1000.0 > budget =>
                s"task ran ${(t1 - t0) / 1000}s, over the ${budget}s warning threshold"
            } ++ Throughput.warning(stats.recordCount, t1 - t0, job.warnMinRps)
            bookkeeper.record(RunRecord(job.outputTable, infoDate, stats.recordCount,
              "succeeded", t0, t1))
            TaskResult.Succeeded(job.name, job.outputTable, infoDate, stats.recordCount,
              validationWarnings ++ timeWarnings)
          case Failure(e) =>
            bookkeeper.record(RunRecord(job.outputTable, infoDate, 0L,
              "failed", t0, System.currentTimeMillis()))
            TaskResult.Failed(job.name, e)
          }
          state.foreach(_.taskCompleted(result))
          result
        } finally {
          lock.foreach(_.release())
          state.foreach(_.taskEnded(job.name, infoDate))
        }
    }
  }

  /** Set per-job session conf overrides for the duration of `body`,
    * restoring each key's previous value (or unsetting it) after —
    * jobs tune e.g. shuffle partitions without leaking the setting
    * into the rest of the pipeline. Runtime (SQL) confs only; static
    * confs throw, which surfaces as the task's failure. */
  private def withSparkConf[A](overrides: Map[String, String])(body: => A): A = {
    if (overrides.isEmpty) return body
    val conf = org.apache.spark.sql.SparkSession.active.conf
    val saved = overrides.keys.map(k => k -> conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** All producers of each table — the DAG edge source (a Seq per
    * table so `enableMultipleJobsPerTable` mode keeps every edge). */
  private def producersOf(jobs: Seq[JobDef]): Map[String, Seq[JobDef]] =
    jobs.groupBy(_.outputTable)

  /** Rejects dependency cycles — and duplicate output tables unless
    * `enableMultipleJobsPerTable` opts in. */
  private def validateDag(jobs: Seq[JobDef]): Unit = {
    // job NAMES key the execution futures — they must be unique even
    // when output tables are allowed to repeat
    val dupNames = jobs.groupBy(_.name).collect { case (n, js) if js.size > 1 => n }
    require(dupNames.isEmpty, s"Duplicate job name(s): ${dupNames.mkString(", ")}")
    if (!enableMultipleJobsPerTable) {
      val dup = jobs.groupBy(_.outputTable).collect { case (t, js) if js.size > 1 => t }
      require(dup.isEmpty, s"Multiple jobs write the same table(s): ${dup.mkString(", ")} " +
        "(set enable.multiple.jobs.per.table to allow disjoint-schedule producers)")
    }
    val byOutput = producersOf(jobs)
    val visiting = scala.collection.mutable.Set.empty[String]
    val done = scala.collection.mutable.Set.empty[String]
    def visit(j: JobDef): Unit = {
      if (done.contains(j.name)) return
      require(visiting.add(j.name), s"Dependency cycle involving job '${j.name}'")
      (j.inputTables ++ j.dependencies.filterNot(_.passive).flatMap(_.tables))
        .distinct.flatMap(t => byOutput.getOrElse(t, Nil)).filterNot(_.name == j.name)
        .foreach(visit)
      visiting.remove(j.name); done.add(j.name)
    }
    jobs.foreach(visit)
  }
}
