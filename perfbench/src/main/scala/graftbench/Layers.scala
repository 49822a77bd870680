package graftbench

/** Per-layer figures of one traced iteration. The layers are the
  * repository's modules: pipeline (orchestrator, bookkeeper), sources,
  * sinks, meta (metastore), offset, operators (the curation stages)
  * and spark (the engine underneath). */
object Layers {
  /** Curation stage labels: the job descriptions CurationTransformer
    * and SemDeDup set, mapped to short names. Unlabelled jobs of the
    * curation task fall into `output_pass`. */
  val Stages: Seq[String] = Seq("dup_probe", "semdedup_fit", "ppl_fit", "pair_groups", "output_pass")

  def stageOf(j: JobRec): Option[String] = {
    val d = j.description
    if (d.startsWith("curation: shared exact/minhash dup probe")) Some("dup_probe")
    else if (d.startsWith("curation: semdedup") || d.startsWith("semdedup:")) Some("semdedup_fit")
    else if (d.startsWith("curation: perplexity")) Some("ppl_fit")
    else if (d.startsWith("curation: near-dup pair groups")) Some("pair_groups")
    else if (j.group.startsWith("graft-task-curate-") || j.group.startsWith("curation-overlap-")) Some("output_pass")
    else None
  }

  private val stageMetrics = Seq("wall_s" -> "s", "jobs" -> "count", "single_task_jobs" -> "count",
    "task_s" -> "s", "cpu_s" -> "s", "shuffle_mb" -> "MB")

  /** Every per-layer metric, in report order, with its unit. */
  val all: Seq[(String, String)] = Seq(
    "pipeline.tasks_succeeded" -> "count", "pipeline.tasks_failed" -> "count", "pipeline.tasks_skipped" -> "count",
    "pipeline.task_busy_s" -> "s", "pipeline.concurrency" -> "ratio", "pipeline.idle_s" -> "s",
    "pipeline.bookkeeper_calls" -> "count", "pipeline.bookkeeper_ms" -> "ms",
    "sources.task_s" -> "s", "sources.rows_in" -> "count",
    "sinks.task_s" -> "s", "sinks.rows_out" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_written_mb" -> "MB",
    "meta.saves" -> "count", "meta.save_s" -> "s", "meta.files_written" -> "count",
    "meta.bytes_written_mb" -> "MB", "meta.read_ops" -> "count", "meta.read_s" -> "s", "meta.list_ms" -> "ms",
    "meta.files_scanned" -> "count", "meta.partitions_scanned" -> "count", "meta.partitions_pruned_ratio" -> "ratio",
    "meta.read_p50_ms" -> "ms", "meta.read_p90_ms" -> "ms", "meta.append_p50_ms" -> "ms",
    "offset.gets" -> "count", "offset.commits" -> "count", "offset.get_ms" -> "ms", "offset.commit_ms" -> "ms") ++
    Stages.flatMap(s => stageMetrics.map { case (m, u) => s"operators.$s.$m" -> u }) ++ Seq(
    "operators.docs_in" -> "count", "operators.docs_out" -> "count", "operators.kept_ratio" -> "ratio",
    "operators.neardup_recall" -> "ratio",
    "spark.jobs" -> "count", "spark.single_task_jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.planning_s" -> "s", "spark.queries" -> "count", "spark.driver_gap_s" -> "s",
    "spark.core_utilization" -> "ratio", "spark.codegen_fallbacks" -> "count",
    "spark.residual_persisted_rdds" -> "count", "spark.residual_job_groups" -> "count",
    "spark.residual_threads" -> "count", "spark.session_start_s" -> "s",
    "trace.overhead_s" -> "s", "trace.traced_run_s" -> "s", "trace.untraced_run_s" -> "s", "trace.spans" -> "count") ++
    Spans.Layers.map(l => s"trace.self_s.$l" -> "s") ++ Seq(
    "checks.failed_ratio" -> "ratio",
    "env.nproc" -> "count", "env.cores" -> "count", "env.load_start" -> "load", "env.load_end" -> "load")

  private val MB = 1048576.0

  private def under(path: String, root: String): Boolean = {
    val r = if (root.endsWith("/")) root else root + "/"
    path == root || path.startsWith(r)
  }

  def of(w: Workload, it: IterOut, chk: CheckOut, rec: Recorder, window: (Long, Long), wallS: Double,
         cores: Int, codegen: Long, residue: Map[String, Double]): (Map[String, Double], Seq[Span]) = {
    val jobs = rec.jobsIn(window._1, window._2)
    val queries = rec.queriesIn(window._1, window._2)
    val m = scala.collection.mutable.Map.empty[String, Double]

    // pipeline: tasks from the bookkeeper's run records
    val (succ, fail, skip) = it.taskCounts
    val busy = it.tasks.map(_.ms).sum / 1000.0
    m ++= Seq("pipeline.tasks_succeeded" -> succ.toDouble, "pipeline.tasks_failed" -> fail.toDouble,
      "pipeline.tasks_skipped" -> skip.toDouble, "pipeline.task_busy_s" -> busy,
      "pipeline.concurrency" -> busy / wallS,
      "pipeline.idle_s" -> (if (it.tasks.isEmpty) 0.0 else it.pipelines.map { case (_, a, b) =>
        Stats.uncovered((a, b), it.tasks.map(t => (t.startMs, t.endMs)))
      }.sum / 1000.0))
    w.timers.get("bookkeeper").foreach { t =>
      m ++= Seq("pipeline.bookkeeper_calls" -> t.calls.get.toDouble, "pipeline.bookkeeper_ms" -> t.ms)
    }
    Seq("source" -> "sources", "sink" -> "sinks").foreach { case (kind, layer) =>
      val ts = it.tasks.filter(_.kind == kind)
      m(s"$layer.task_s") = ts.map(_.ms).sum / 1000.0
      m(if (kind == "source") "sources.rows_in" else "sinks.rows_out") = ts.map(_.rows).sum.toDouble
    }
    val sinkWrites = queries.flatMap(_.writes).filter(x => under(x.path, w.sinkRoot))
    m ++= Seq("sinks.files_written" -> sinkWrites.map(_.files).sum.toDouble,
      "sinks.bytes_written_mb" -> sinkWrites.map(_.bytes).sum / MB)

    // meta: write commands and scans under the metastore root
    val saves = queries.filter(_.writes.exists(x => under(x.path, w.metaRoot)))
    val metaWrites = saves.flatMap(_.writes).filter(x => under(x.path, w.metaRoot))
    val reads = queries.filter(_.scans.exists(_.roots.exists(under(_, w.metaRoot))))
    val metaScans = reads.flatMap(_.scans).filter(_.roots.exists(under(_, w.metaRoot)))
    val partsTotal = metaScans.filter(_.partitionsTotal > 0)
    m ++= Seq("meta.saves" -> saves.size.toDouble,
      "meta.save_s" -> saves.map(q => q.endMs - q.startMs).sum / 1000.0,
      "meta.files_written" -> metaWrites.map(_.files).sum.toDouble,
      "meta.bytes_written_mb" -> metaWrites.map(_.bytes).sum / MB,
      "meta.read_ops" -> reads.size.toDouble,
      "meta.read_s" -> reads.filter(_.writes.isEmpty).map(q => q.endMs - q.startMs).sum / 1000.0,
      // listing: the scans' own file-listing time plus the parallel
      // listing jobs Spark runs for tables with many partitions
      "meta.list_ms" -> (metaScans.map(_.metadataMs).sum + Stats.unionLength(jobs
        .filter(j => j.description.startsWith("Listing leaf files") && j.description.contains(w.metaRoot))
        .map(j => (j.startMs, j.endMs)))).toDouble,
      "meta.files_scanned" -> metaScans.map(_.files).sum.toDouble,
      "meta.partitions_scanned" -> metaScans.map(_.partitionsRead).sum.toDouble,
      "meta.partitions_pruned_ratio" -> (if (partsTotal.isEmpty) 0.0
        else 1.0 - partsTotal.map(_.partitionsRead).sum.toDouble / partsTotal.map(_.partitionsTotal).sum))

    // offset: the decorator around the offset store
    Seq("offset_get" -> "get", "offset_commit" -> "commit").foreach { case (key, name) =>
      w.timers.get(key).foreach { t =>
        m(s"offset.${name}s") = t.calls.get.toDouble
        m(s"offset.${name}_ms") = t.ms
      }
    }

    // operators: Spark jobs attributed to curation stages by label
    val byStage = jobs.flatMap(j => stageOf(j).map(_ -> j)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    Stages.foreach { s =>
      val js = byStage.getOrElse(s, Nil)
      m ++= Seq(s"operators.$s.wall_s" -> Stats.unionLength(js.map(j => (j.startMs, j.endMs))) / 1000.0,
        s"operators.$s.jobs" -> js.size.toDouble,
        s"operators.$s.single_task_jobs" -> js.count(_.tasks == 1).toDouble,
        s"operators.$s.task_s" -> js.map(_.taskMs).sum / 1000.0,
        s"operators.$s.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"operators.$s.shuffle_mb" -> js.map(j => j.shuffleRead + j.shuffleWrite).sum / MB)
    }

    // spark: the whole engine inside the iteration window
    val taskS = jobs.map(_.taskMs).sum / 1000.0
    m ++= Seq("spark.jobs" -> jobs.size.toDouble, "spark.single_task_jobs" -> jobs.count(_.tasks == 1).toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble, "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS, "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> jobs.map(_.spill).sum / MB,
      "spark.planning_s" -> queries.map(_.planningMs).sum / 1000.0,
      "spark.queries" -> queries.size.toDouble,
      "spark.driver_gap_s" -> Stats.uncovered(window, jobs.map(j => (j.startMs, j.endMs))) / 1000.0,
      "spark.core_utilization" -> taskS / (wallS * cores),
      "spark.codegen_fallbacks" -> codegen.toDouble)
    m ++= residue
    m ++= it.layer
    m ++= chk.layer

    val spans = buildSpans(it, jobs, queries, window)
    m("trace.spans") = spans.size.toDouble
    Spans.selfTime(spans).foreach { case (l, s) => m(s"trace.self_s.$l") = s }
    (m.toMap, spans)
  }

  /** iteration → pipeline run or operation → task → query → Spark job,
    * each with its parent's id. */
  def buildSpans(it: IterOut, jobs: Seq[JobRec], queries: Seq[QueryRec], window: (Long, Long)): Seq[Span] = {
    var next = 0L
    def id(): Long = { next += 1; next }
    val root = Span(id(), 0L, "iteration", "iteration", window._1, window._2)
    val pipes = it.pipelines.map { case (n, a, b) => Span(id(), root.id, "pipeline", n, a, b) }
    val tasks = it.tasks.map(t =>
      t.group -> Span(id(), Spans.parentOf(pipes, t.startMs, t.endMs, root.id), "task", t.name, t.startMs, t.endMs))
    val taskByGroup = tasks.toMap
    val taskSpans = tasks.map(_._2)
    def around(a: Long, b: Long): Long =
      Spans.parentOf(taskSpans, a, b, Spans.parentOf(pipes, a, b, root.id))
    val jobsByExec = jobs.groupBy(_.sqlExec)
    val qs = queries.map { q =>
      val viaGroup = jobsByExec.getOrElse(q.execId, Nil).flatMap(j => taskByGroup.get(j.group)).headOption
      q.execId -> Span(id(), viaGroup.map(_.id).getOrElse(around(q.startMs, q.endMs)), "query",
        s"query ${q.execId}", q.startMs, q.endMs)
    }.toMap
    val js = jobs.map { j =>
      val parent = qs.get(j.sqlExec).map(_.id)
        .orElse(taskByGroup.get(j.group).map(_.id))
        .getOrElse(around(j.startMs, j.endMs))
      Span(id(), parent, "job", s"job ${j.id}", j.startMs, j.endMs)
    }
    Seq(root) ++ pipes ++ taskSpans ++ qs.values.toSeq.sortBy(_.id) ++ js
  }
}
