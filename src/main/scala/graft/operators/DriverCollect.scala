package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** The limit-guarded collect behind every "small enough for the
  * driver?" decision: one action both decides and fetches, so a small
  * input never pays a separate count job before its driver-side work. */
private[graft] object DriverCollect {

  /** Rows at or below which a model fit runs on the driver from one
    * [[collectAtMost]] instead of as distributed jobs. At this size
    * per-job latency, not the data, sets a distributed fit's wall time.
    * Each fit documents what its driver holds at this bound where it
    * uses the gate. */
  val DriverFitMaxRows: Int = 10000

  /** All rows of `ds` when it holds at most `n`, else None. An
    * oversized input costs one collect of `n + 1` rows; a negative `n`
    * returns None without running a job. */
  def collectAtMost[T](ds: Dataset[T], n: Int): Option[Array[T]] =
    if (n < 0) None
    else {
      require(n < Int.MaxValue, s"collectAtMost: n must be < Int.MaxValue, got $n")
      Some(ds.limit(n + 1).collect()).filter(_.length <= n)
    }

  /** Whether Spark already knows that `df` holds more than `n` rows (a
    * materialized cache or a local relation), so a gate can skip its
    * probe collect. A file scan carries no row count: its probe runs.
    * The plan is optimized in a fresh execution, so `df`'s own stays
    * unplanned and still picks up a cache added later. A negative `n`
    * is exceeded without planning anything. */
  def knownAbove(df: DataFrame, n: Int): Boolean =
    n < 0 || df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed)
      .optimizedPlan.stats.rowCount.exists(_ > n)
}
