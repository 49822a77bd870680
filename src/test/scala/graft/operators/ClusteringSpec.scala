package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** K-means document clustering over embeddings. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("every vector lands in exactly one cluster; assignment is the true nearest") {
    val cents = Clustering.fit(embeddings, "embedding", k = 4, iters = 3)
    val assigned = Clustering.assign(embeddings, "embedding", cents)
    assert(assigned.count() == embeddings.count())
    assert(assigned.groupBy("vec_id").count().where(col("count") > 1).count() == 0)
    // spot-check: recomputed distance to EVERY centroid never beats dist2
    val sample = assigned.limit(20)
      .select("vec_id", "embedding", "cluster", "dist2").collect()
    sample.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val dists = cents.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(math.abs(dists.min - r.getDouble(3)) < 1e-9,
        s"vec ${r.getLong(0)}: assigned ${r.getDouble(3)}, true min ${dists.min}")
    }
  }

  test("iterating strictly improves (or holds) total inertia") {
    val one = Clustering.fit(embeddings, "embedding", k = 4, iters = 1)
    val five = Clustering.fit(embeddings, "embedding", k = 4, iters = 5)
    def inertia(c: Array[Array[Double]]): Double =
      Clustering.assign(embeddings, "embedding", c)
        .agg(sum("dist2")).head().getDouble(0)
    assert(inertia(five) <= inertia(one) + 1e-9)
  }

  test("stats cover all clusters; exemplars are the closest members") {
    val cents = Clustering.fit(embeddings, "embedding", k = 4, iters = 3)
    val assigned = Clustering.assign(embeddings, "embedding", cents)
    val st = Clustering.stats(assigned).collect()
    assert(st.map(_.getAs[Long]("n")).sum == embeddings.count())
    val ex = Clustering.exemplars(assigned, "vec_id", m = 3)
    val byCluster = ex.collect().groupBy(_.getInt(0))
    byCluster.values.foreach { rows =>
      assert(rows.length <= 3)
      // exemplar ranks ordered by distance
      val sorted = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    }
    // exemplar #1 of a cluster is no farther than any other member
    val minDist = assigned.groupBy("cluster").agg(min("dist2").as("md"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    byCluster.foreach { case (c, rows) =>
      assert(math.abs(rows.minBy(_.getInt(3)).getDouble(2) - minDist(c)) < 1e-12)
    }
  }

  test("deterministic for a fixed seed") {
    val a = Clustering.fit(embeddings, "embedding", k = 3, iters = 2, seed = 7L)
    val b = Clustering.fit(embeddings, "embedding", k = 3, iters = 2, seed = 7L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }
  test("r16 robustness: double-typed embeddings fit; null vectors dropped instead of NPE") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0 until 60).map(i => (i.toLong,
      if (i % 20 == 19) null else Array.fill(8)(rnd.nextDouble()))) // array<double> + nulls
    val df = rows.toDF("id", "embedding")
    val cents = Clustering.fit(df, "embedding", k = 3, iters = 2)
    assert(cents.length == 3 && cents.forall(_.length == 8))
    assert(cents.flatten.forall(v => !v.isNaN))
  }

  test("r16 robustness: EmbedDedup on an empty or all-null corpus returns the empty pair frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(EmbedDedup.nearDupPairs(empty, "embedding", "vec_id").count() == 0)
    val allNull = Seq((1L, null: Array[Float]), (2L, null: Array[Float]))
      .toDF("vec_id", "embedding")
    assert(EmbedDedup.nearDupPairs(allNull, "embedding", "vec_id").count() == 0)
  }

  // ── driver-side fit vs the distributed reference ──────────────────

  private def close(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => math.abs(u - v) <= 1e-9 }
    }

  test("driver k-means equals the distributed fit within 1e-9") {
    val rnd = new scala.util.Random(5)
    val doubles = (0 until 60).map(i => (i.toLong,
      if (i % 20 == 19) null else Array.fill(8)(rnd.nextDouble()))).toDF("id", "embedding")
    Seq((embeddings, 4, 3), (embeddings, 8, 2), (doubles, 3, 2), (embeddings, 4, 0)).foreach {
      case (e, k, iters) =>
        val driver = AnnSearch.kmeansGated(e, "embedding", k, iters, 42L, DriverCollect.DriverFitMaxRows)
        val reference = AnnSearch.kmeansGated(e, "embedding", k, iters, 42L, -1)
        assert(driver.length == k && close(driver, reference), s"k=$k iters=$iters")
    }
  }

  test("driver k-means: one collect, nothing persisted, far fewer jobs than the reference") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val driverJobs = jobsOf(AnnSearch.kmeansCentroids(embeddings, "embedding", 8, 3))._2.size
    val referenceJobs = jobsOf(AnnSearch.kmeansGated(embeddings, "embedding", 8, 3, 42L, -1))._2.size
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "neither fit may leave a persisted RDD")
    assert(driverJobs <= 2 && referenceJobs > driverJobs,
      s"driver fit $driverJobs jobs, distributed fit $referenceJobs")
  }

  test("a vector with a null element fails both fits") {
    val bad = Seq[(Long, Seq[Option[Float]])](1L -> Seq(Some(1f), Some(0f)),
      2L -> Seq(Some(0f), None), 3L -> Seq(Some(0.5f), Some(0.5f))).toDF("id", "embedding")
    // the distributed fit fails in nearest_centroid, or earlier when the
    // vector is drawn as a seed; the driver fit names the element
    intercept[Exception](AnnSearch.kmeansGated(bad, "embedding", 2, 1, 42L, -1))
    val ex = intercept[IllegalArgumentException](
      AnnSearch.kmeansGated(bad, "embedding", 2, 1, 42L, DriverCollect.DriverFitMaxRows))
    assert(ex.getMessage.contains("null element at 1"), ex)
  }

  test("an input Spark knows to exceed the gate skips the driver probe") {
    // a materialized cache carries its row count, so a gate below it
    // goes straight to the distributed fit: the reference's queries,
    // not one more
    val cached = embeddings.persist()
    try {
      val n = cached.count()
      val (skipped, skipQueries) = queriesOf(
        AnnSearch.kmeansGated(cached, "embedding", 4, 2, 42L, (n - 1).toInt))
      val (reference, refQueries) = queriesOf(
        AnnSearch.kmeansGated(cached, "embedding", 4, 2, 42L, -1))
      assert(close(skipped, reference))
      assert(skipQueries == refQueries, s"gated $skipQueries queries, reference $refQueries")
    } finally { cached.unpersist(); () }
  }
}
