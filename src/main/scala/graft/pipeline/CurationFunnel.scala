package graft.pipeline

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Curation FUNNEL accounting — "where did my data go": one row per
 * stage with how many documents (and whitespace tokens) that stage
 * dropped, each document attributed to the FIRST stage that dropped
 * it, in [[CurationTransformer]] stage order, plus the `kept` row.
 * Every production corpus pipeline publishes exactly this table;
 * without it a threshold change is a blind knob.
 *
 * The funnel has no stage logic of its own: it runs
 * [[CurationTransformer.curate]] with a mark that observes (row count,
 * token sum) at every stage boundary, completes all boundaries with
 * ONE count over the curated frame, and differences adjacent
 * boundaries. So it reports every enabled stage, decided exactly as a
 * pipeline run decides it.
 */
object CurationFunnel {

  /** `(stage, docs, tokens, doc_share)` for the stages that dropped at
    * least one document (and `kept`, when anything survives), in stage
    * order. `options` are the transformer's options (`input.table` is
    * not read: `docs` is the input); `tables` resolves every other
    * table they name. */
  def report(docs: DataFrame, options: Map[String, String],
             tables: String => DataFrame = Map.empty[String, DataFrame]): DataFrame = {
    val tokens = TextFunctions.tokenCountWs(col(options.getOrElse("text.column", "text")))
      .cast("long")
    val labels = Seq.newBuilder[String]
    val curated = CurationTransformer.curate(docs, tables, options, (label, df) => {
      labels += label
      df.observe(label, count(lit(1)).as("docs"), coalesce(sum(tokens), lit(0L)).as("tokens"))
    })
    val counted = curated.agg(count(lit(1)))
    counted.collect()
    val observed = counted.queryExecution.observedMetrics
    // a boundary is absent only when the optimizer pruned an empty branch
    val at = labels.result().map(l =>
      l -> observed.get(l).fold((0L, 0L))(r => (r.getLong(0), r.getLong(1))))
    val total = at.headOption.fold(0L)(_._2._1)
    val rows = at.zip(at.drop(1).map(_._2) :+ ((0L, 0L))).collect {
      case ((label, (d, t)), (nextD, nextT)) if d > nextD => (label, d - nextD, t - nextT)
    }
    docs.sparkSession.createDataFrame(rows).toDF("stage", "docs", "tokens")
      .select(col("stage"), col("docs"), col("tokens"),
        round(col("docs").cast("double") / lit(total), 6).as("doc_share"))
  }
}
