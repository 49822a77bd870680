package graftbench

import org.apache.spark.sql.SparkSession

/** A pipeline task as the bookkeeper recorded it, with the Spark job
  * group the orchestrator tagged its jobs with. `kind` is the layer
  * the task belongs to: source, transform, sink. */
final case class TaskSpan(name: String, kind: String, group: String, startMs: Long, endMs: Long, rows: Long) {
  def ms: Double = (endMs - startMs).toDouble
}

/** What one timed iteration did. Latency `samples` feed op_p50_ms;
  * `pipelines` are the top-level calls the client made (a pipeline
  * run, or one metastore operation). */
final case class IterOut(
    samples: Seq[Double],
    ops: Long,
    failedOps: Long,
    rows: Long,
    pipelines: Seq[(String, Long, Long)],
    tasks: Seq[TaskSpan],
    taskCounts: (Long, Long, Long),
    layer: Map[String, Double])

/** Outcome of the output check after an iteration (untimed). */
final case class CheckOut(attempted: Int, failed: Int, storedBytes: Long, inputBytes: Long,
                          notes: Seq[String], layer: Map[String, Double] = Map.empty)

/** Paths and knobs every workload gets. `root` is the run's private
  * scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, root: String, cores: Int)

trait Workload {
  /** One setup from scratch: generate inputs into a fresh directory and
    * load them into the program's starting state. Timed; repeated. */
  def setup(rep: Int): Unit
  /** Per-run state the checks compare against (untimed, after setup). */
  def prepareChecks(): Unit = ()
  /** Untimed warm-up after set-up. Pipeline workloads time their first
    * run, as a scheduled pipeline pays it (a one-day warm-up made the
    * backfill's figures noisier, not steadier); metastore_rw runs one
    * operation of each kind so its short batches are not dominated by
    * first-use costs. */
  def warmup(): Unit = ()
  /** Untimed reset before each iteration. */
  def reset(): Unit
  /** One timed iteration. `traced` installs the store decorators. */
  def iteration(traced: Boolean): IterOut
  /** Output check against the independently computed reference. */
  def check(out: IterOut): CheckOut
  /** Meta and sink roots, for write/scan attribution in traced runs. */
  def metaRoot: String
  def sinkRoot: String
  /** Store decorators the traced iterations read: "bookkeeper",
    * "offset_get", "offset_commit". Reset before every iteration. */
  def timers: Map[String, CallTimer] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("etl_backfill", "curation", "metastore_rw")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_backfill" => new EtlBackfill(ctx)
    case "curation" => new Curation(ctx)
    case "metastore_rw" => new MetastoreRw(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}
