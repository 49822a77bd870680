package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document clustering over an embedding column — the corpus-analysis
 * companion to IVF search (same k-means quantizer, exposed as an
 * operator): topic-ish bucketing for stratified sampling, corpus
 * composition reports, and cluster-balanced mixing of training data.
 *
 * Scale story: fitting ([[AnnSearch.kmeansCentroids]]) collects the
 * vectors once and runs k-means on the driver when there are at most
 * [[DriverCollect.DriverFitMaxRows]] of them; above that it collects only
 * k×dim centroid doubles per iteration (one map + one groupBy per
 * round) and never holds rows. Assignment is a single scan with the
 * centroid matrix as ONE literal (no join, no shuffle); per-cluster
 * stats are one ids-only aggregation.
 */
object Clustering {

  /** Fit k centroids (deterministic seeded init). */
  def fit(embeddings: DataFrame, vecCol: String, k: Int,
          iters: Int = 5, seed: Long = 42L): Array[Array[Double]] =
    AnnSearch.kmeansCentroids(embeddings, vecCol, k, iters, seed)

  /** Assign every row to its nearest centroid: adds `cluster` and the
    * squared L2 `dist2` to it. One scan, no shuffle. The distance/
    * argmin expression is AnnSearch's (shared with IVF assignment), so
    * fit-time and assign-time decisions can never drift apart. */
  def assign(embeddings: DataFrame, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    embeddings
      .withColumn("_b", AnnSearch.nearestCentroidScored(col(vecCol), centroids))
      .withColumn("cluster", col("_b.i").cast("int"))
      .withColumn("dist2", col("_b.d"))
      .drop("_b")
  }

  /** Per-cluster composition: size, mean/max squared distance
    * (inertia contributions) — the corpus-report roll-up. */
  def stats(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("dist2")), 6).as("mean_dist2"),
        round(max(col("dist2")), 6).as("max_dist2"))

  /** The `m` rows closest to each centroid — human-inspectable cluster
    * exemplars. One window over (cluster, dist2). */
  def exemplars(assigned: DataFrame, idCol: String, m: Int): DataFrame = {
    val w = Window.partitionBy(col("cluster")).orderBy(col("dist2"), col(idCol))
    assigned.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= m)
      .select(col("cluster"), col(idCol), col("dist2"), col("_rk").as("rank"))
  }
}
