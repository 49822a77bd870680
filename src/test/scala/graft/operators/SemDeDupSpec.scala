package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** L34: SemDeDup — hand-built geometry pins the cluster-local pair
  * contract, the keep-farthest-from-centroid representative rule, and
  * the sub-bucket guard for oversized clusters. */
class SemDeDupSpec extends SparkSpec {
  import spark.implicits._

  // two orthogonal clusters in dim 4
  private val centroids = Array(
    Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 1.0, 0.0, 0.0))

  private def emb(rows: (Long, Array[Float])*) = rows.toSeq.toDF("vec_id", "embedding")

  test("keeps the duplicate farthest from the centroid; distinct and other-cluster rows survive") {
    // ids 1,2,3 are colinear (cosine exactly 1) at growing distance
    // from centroid 0 — one group, keep id 3 (farthest). id 4 points
    // elsewhere in cluster 0; id 5 lives in cluster 1.
    val e = emb(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(2f, 0f, 0f, 0f),
      3L -> Array(3f, 0f, 0f, 0f),
      4L -> Array(0.8f, 0.1f, 0.6f, 0f),
      5L -> Array(0f, 1f, 0f, 0f))
    val kept = SemDeDup.dedup(e, "embedding", "vec_id", centroids, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L), s"kept $kept")
  }

  test("dropList is the exact complement of dedup survivors") {
    val e = emb(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(2f, 0f, 0f, 0f),
      3L -> Array(3f, 0f, 0f, 0f),
      4L -> Array(0.8f, 0.1f, 0.6f, 0f),
      5L -> Array(0f, 1f, 0f, 0f))
    val dropped = SemDeDup.dropList(e, "embedding", "vec_id", centroids, threshold = 0.99)
      .as[Long].collect().toSet
    val kept = SemDeDup.dedup(e, "embedding", "vec_id", centroids, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(dropped == Set(1L, 2L), s"dropped $dropped")
    assert((dropped & kept).isEmpty && (dropped | kept) == Set(1L, 2L, 3L, 4L, 5L),
      s"dropList must partition the corpus: dropped=$dropped kept=$kept")
  }

  test("pairs are cluster-local and carry exact cosine; cross-cluster near-pairs are NOT compared") {
    // ids 1 and 2 are nearly identical but straddle the two centroids —
    // SemDeDup's contract is cluster-local comparison, so no pair
    val e = emb(
      1L -> Array(0.71f, 0.70f, 0f, 0f),
      2L -> Array(0.70f, 0.71f, 0f, 0f),
      3L -> Array(1f, 0f, 0f, 0f))
    val assigned = Clustering.assign(e, "embedding", centroids)
    val pairs = SemDeDup.dupPairs(assigned, "embedding", "vec_id", threshold = 0.9)
      .collect()
    assert(pairs.isEmpty, s"cross-cluster members must not pair: ${pairs.mkString(",")}")
    // and within a cluster the cosine is the exact rounded value
    val e2 = emb(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 1f, 0f, 0f))
    val p2 = SemDeDup.dupPairs(Clustering.assign(e2, "embedding", centroids),
      "embedding", "vec_id", threshold = 0.5).collect()
    assert(p2.length == 1)
    assert(math.abs(p2.head.getAs[Double]("cosine") - 0.707107) < 1e-6)
  }

  test("oversized clusters sub-split without ever separating identical embeddings") {
    // 40 bit-identical vectors + maxClusterSize = 1 forces maximal
    // sub-bucketing; identical vectors share every LSH bucket, so all
    // still collapse to ONE survivor
    val e = emb((1L to 40L).map(i => i -> Array(1f, 0f, 0f, 0f)): _*)
    val kept = SemDeDup.dedup(e, "embedding", "vec_id", centroids,
      threshold = 0.999, maxClusterSize = 1)
      .select("vec_id").as[Long].collect().toSeq
    // equal dist2 everywhere -> tie-break keeps the lowest id
    assert(kept == Seq(1L), s"identical embeddings must collapse to one survivor: $kept")
  }

  test("replicated corpus: identity copies collapse pre-join; semantic rule runs on representatives") {
    // 5 copies each of two colinear vectors: identity pre-grouping
    // must feed only the 2 representatives to the pair join (1 pair,
    // not 45), and the semantic keep-farthest rule then picks the
    // b-representative (dist2 1 vs 0)
    val e = emb(
      ((1L to 5L).map(i => i -> Array(1f, 0f, 0f, 0f)) ++
        (6L to 10L).map(i => i -> Array(2f, 0f, 0f, 0f))): _*)
    val kept = SemDeDup.dedup(e, "embedding", "vec_id", centroids, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSeq
    assert(kept == Seq(6L), s"one survivor, the far representative: $kept")
  }

  test("empty corpus: no pairs, no crash, empty result") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val assigned = Clustering.assign(empty, "embedding", centroids)
    assert(SemDeDup.dupPairs(assigned, "embedding", "vec_id", threshold = 0.9).count() == 0)
    assert(SemDeDup.dedup(empty, "embedding", "vec_id", centroids).count() == 0)
  }

  test("string document ids survive the representative tie-break") {
    // equal dist2 everywhere — the tie-break must order the STRING ids
    // themselves (negating them would cast to null and drop nothing)
    val e = Seq(
      "a" -> Array(1f, 0f, 0f, 0f),
      "b" -> Array(1f, 0f, 0f, 0f),
      "c" -> Array(1f, 0f, 0f, 0f)).toDF("doc", "embedding")
    val kept = SemDeDup.dedup(e, "embedding", "doc", centroids, threshold = 0.999)
      .select("doc").as[String].collect().toSeq
    assert(kept == Seq("a"), s"lowest string id must win the tie: $kept")
  }

  test("broadcast gate: above the cap the drop list takes the shuffle path with identical survivors") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    // the mass-replicated fixture: 10 ids, 2 identity groups → 8 copies
    // + 1 semantic drop = 9 drops, counted by the materializing action
    val e = emb(
      ((1L to 5L).map(i => i -> Array(1f, 0f, 0f, 0f)) ++
        (6L to 10L).map(i => i -> Array(2f, 0f, 0f, 0f))): _*)
    def pruned(maxBroadcast: Long) =
      e.join(SemDeDup.dropListGated(e, "embedding", "vec_id", centroids, threshold = 0.99,
          maxClusterSize = 20000, seed = 42L, maxBroadcast = maxBroadcast),
        col("vec_id") === col("_drop_id"), "left_anti")
    def antiHint(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftAnti => j.hint.rightHint
      }
    val over = pruned(8L) // 9 drops > 8 → no hint
    assert(antiHint(over).forall(_.forall(_.strategy.isEmpty)),
      "above the cap the anti join must not force a broadcast")
    assert(over.select("vec_id").as[Long].collect().toSeq == Seq(6L),
      "fallback plan must keep the same survivors")
    val under = pruned(9L) // 9 drops <= 9 → broadcast
    assert(antiHint(under).exists(_.exists(_.strategy.isDefined)),
      "within the cap the drop list must carry the broadcast hint")
    assert(under.select("vec_id").as[Long].collect().toSeq == Seq(6L))
  }

  test("laziness: known-dim dupPairs is lazy; the gate adds no query") {
    val e = emb(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(2f, 0f, 0f, 0f))
    val assigned = Clustering.assign(e, "embedding", centroids)
    // the r9 verdict's ask: no dim probe when the caller knows dim
    val pairJobs = jobsOf {
      SemDeDup.dupPairs(assigned, "embedding", "vec_id", threshold = 0.9, dim = 4)
    }._2.size
    assert(pairJobs == 0, s"dupPairs with known dim must be lazy; launched $pairJobs job(s)")
    // drop-list construction necessarily runs the connected-components
    // rounds (iterative, documented) and its one materializing action;
    // the broadcast gate reads the count that action observes, so the
    // gated list costs exactly the queries of a never-hinted one
    val gatedQueries = queriesOf {
      SemDeDup.dropList(e, "embedding", "vec_id", centroids, threshold = 0.9)
    }._2
    val unhintedQueries = queriesOf {
      SemDeDup.dropListGated(e, "embedding", "vec_id", centroids, threshold = 0.9,
        maxClusterSize = 20000, seed = 42L, maxBroadcast = -1L)
    }._2
    assert(gatedQueries > 0, "drop-list construction must be counted")
    assert(gatedQueries == unhintedQueries,
      s"the gate must add no query: gated=$gatedQueries unhinted=$unhintedQueries")
  }

  test("real embeddings: dedup is idempotent and only removes grouped members") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Clustering.fit(e, "embedding", k = 4, iters = 3)
    val once = SemDeDup.dedup(e, "embedding", "vec_id", cents, threshold = 0.995)
    val n0 = e.count(); val n1 = once.count()
    assert(n1 > 0 && n1 <= n0)
    val twice = SemDeDup.dedup(once, "embedding", "vec_id", cents, threshold = 0.995)
    assert(twice.count() == n1, "second pass must remove nothing new")
  }

  test("fitAndDropList equals fit then dropList") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Clustering.fit(e, "embedding", k = 4, iters = 3)
    val seqDrop = SemDeDup.dropList(e, "embedding", "vec_id", cents, threshold = 0.995)
      .as[Long].collect().toSet
    val (cents2, drop2) = SemDeDup.fitAndDropList(e, "embedding", "vec_id",
      k = 4, iters = 3, threshold = 0.995)
    assert(cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq,
      "the composed fit must produce bit-identical centroids")
    assert(drop2.as[Long].collect().toSet == seqDrop,
      "the composed drop list must equal the sequential one")
    val kept = SemDeDup.dedupWithFit(e, "embedding", "vec_id",
      k = 4, iters = 3, threshold = 0.995).count()
    assert(kept == e.count() - seqDrop.size,
      "dedupWithFit must prune exactly the drop list")
  }

  test("a failing drop-list action leaks no persisted RDD") {
    // the drop list persists its keyed fingerprints and assigned
    // representatives before its first action; an embedding column that
    // throws at evaluation fails that action, and nothing downstream
    // would ever release them
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("embedding decode failed")
      Array(0f)
    }
    val e = spark.range(20).select(col("id").as("vec_id"), boom(col("id")).as("embedding"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val ex = intercept[Exception](SemDeDup.dropList(e, "embedding", "vec_id", centroids))
    val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("embedding decode failed")), ex)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"the failed action leaked persisted RDDs: $leaked")
  }

  test("empty centroids fail before anything is persisted") {
    val e = emb(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(2f, 0f, 0f, 0f))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[IllegalArgumentException](
      SemDeDup.dropList(e, "embedding", "vec_id", Array.empty[Array[Double]]))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"empty centroids leaked persisted RDDs: $leaked")
  }

  // ── driver path vs the distributed reference ──────────────────────

  private def dropSet(df: org.apache.spark.sql.DataFrame): Set[Any] =
    df.collect().map(_.get(0)).toSet

  private def isLocal(drop: org.apache.spark.sql.DataFrame): Boolean =
    drop.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isDefined

  private def bothPaths(e: org.apache.spark.sql.DataFrame, idCol: String,
                        cents: Array[Array[Double]], threshold: Double,
                        maxClusterSize: Int = 20000) = {
    def run(gate: Int) = SemDeDup.dropListGated(e, "embedding", idCol, cents, threshold,
      maxClusterSize, seed = 42L, maxBroadcast = SemDeDup.MaxBroadcastDropIds,
      driverFitMaxRows = gate)
    (run(DriverCollect.DriverFitMaxRows), run(-1))
  }

  /** The curation benchmark's embedding shape: `n` random vectors in
    * [-1, 1)^dim over 4 partitions; past the first ten, 10% copy an
    * earlier vector, half exactly and half with ±5e-4 noise. */
  private def twinCorpus(seed: Long, n: Int = 1000, dim: Int = 16) = {
    val r = new scala.util.Random(seed)
    val vecs = new Array[Array[Double]](n)
    (0 until n).foreach { i =>
      vecs(i) =
        if (i > 10 && r.nextDouble() < 0.1) {
          val src = vecs(r.nextInt(i))
          if (r.nextBoolean()) src.clone() else src.map(_ + (r.nextDouble() - 0.5) * 1e-3)
        } else Array.fill(dim)(r.nextDouble() * 2 - 1)
    }
    spark.sparkContext.parallelize(vecs.indices.map(i => (i.toLong, vecs(i))), 4)
      .toDF("vec_id", "embedding")
  }

  test("null embeddings are kept: never an identity group, on either path") {
    val e = Seq[(Long, Array[Float])](
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 0f, 0f, 0f),
      10L -> null, 11L -> null, 12L -> null).toDF("vec_id", "embedding")
    val (driver, reference) = bothPaths(e, "vec_id", centroids, threshold = 0.99)
    assert(dropSet(driver) == Set(2L), s"driver path dropped ${dropSet(driver)}")
    assert(dropSet(reference) == Set(2L), s"distributed path dropped ${dropSet(reference)}")
    assert(dropSet(SemDeDup.dropList(e, "embedding", "vec_id", centroids)) == Set(2L))
  }

  test("driver path: identical drop sets to the distributed reference on the fixtures") {
    val fixtures = Seq(
      (emb(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(2f, 0f, 0f, 0f),
        3L -> Array(3f, 0f, 0f, 0f), 4L -> Array(0.8f, 0.1f, 0.6f, 0f),
        5L -> Array(0f, 1f, 0f, 0f)), 0.99),
      (emb(1L -> Array(0.71f, 0.70f, 0f, 0f), 2L -> Array(0.70f, 0.71f, 0f, 0f),
        3L -> Array(1f, 0f, 0f, 0f)), 0.9),
      (emb(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 1f, 0f, 0f)), 0.5),
      (emb((1L to 40L).map(i => i -> Array(1f, 0f, 0f, 0f)): _*), 0.999),
      (emb(((1L to 5L).map(i => i -> Array(1f, 0f, 0f, 0f)) ++
        (6L to 10L).map(i => i -> Array(2f, 0f, 0f, 0f))): _*), 0.99),
      // int ids keep their type through the local drop relation
      (Seq(1 -> Array(1f, 0f, 0f, 0f), 2 -> Array(1f, 0f, 0f, 0f), 3 -> Array(0f, 1f, 0f, 0f))
        .toDF("vec_id", "embedding"), 0.99))
    fixtures.foreach { case (e, thr) =>
      val (driver, reference) = bothPaths(e, "vec_id", centroids, thr)
      assert(isLocal(driver) && !isLocal(reference), "each side must take its own path")
      assert(driver.schema("_drop_id").dataType == reference.schema("_drop_id").dataType)
      assert(dropSet(driver) == dropSet(reference), s"threshold $thr")
    }
  }

  test("driver path: the curation corpus shape gives identical fits and drop sets at 3 seeds") {
    Seq(7L, 41L, 3L).foreach { s =>
      val e = twinCorpus(s)
      def fit(gate: Int) = SemDeDup.fitAndDropListGated(e, "embedding", "vec_id", k = 8,
        iters = 3, fitSeed = 42L, threshold = 0.95, maxClusterSize = 20000, seed = 42L,
        driverFitMaxRows = gate)
      val (dc, dd) = fit(DriverCollect.DriverFitMaxRows)
      val (rc, rd) = fit(-1)
      assert(isLocal(dd) && !isLocal(rd))
      assert(dc.length == rc.length && dc.zip(rc).forall { case (a, b) =>
        a.length == b.length && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-9 }
      }, s"seed $s: centroids differ beyond 1e-9")
      val drops = dropSet(dd)
      assert(drops.nonEmpty && drops == dropSet(rd), s"seed $s: drop sets differ")
    }
  }

  test("driver path falls back to the distributed drop list: oversized cluster, string ids") {
    // two distinct representatives in cluster 0 exceed maxClusterSize 1
    val e = emb(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(2f, 0f, 0f, 0f),
      3L -> Array(2f, 0f, 0f, 0f))
    val (over, overRef) = bothPaths(e, "vec_id", centroids, 0.99, maxClusterSize = 1)
    assert(!isLocal(over), "an oversized cluster must take the distributed sub-bucket split")
    assert(dropSet(over) == dropSet(overRef))
    val str = Seq("a" -> Array(1f, 0f, 0f, 0f), "b" -> Array(1f, 0f, 0f, 0f),
      "c" -> Array(0f, 1f, 0f, 0f)).toDF("doc", "embedding")
    val (s, sRef) = bothPaths(str, "doc", centroids, 0.99)
    assert(!isLocal(s), "string ids must take the distributed path")
    assert(dropSet(s) == Set("b") && dropSet(sRef) == Set("b"))
  }

  test("driver path: empty and all-null input match the reference") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val allNull = Seq[(Long, Array[Float])](1L -> null, 2L -> null).toDF("vec_id", "embedding")
    Seq(empty, allNull).foreach { e =>
      val (driver, reference) = bothPaths(e, "vec_id", centroids, 0.95)
      assert(isLocal(driver) && dropSet(driver).isEmpty && dropSet(reference).isEmpty)
      // no vector to seed from: both fits fail the same way
      Seq(DriverCollect.DriverFitMaxRows, -1).foreach { gate =>
        intercept[IllegalArgumentException](SemDeDup.fitAndDropListGated(e, "embedding",
          "vec_id", k = 2, iters = 2, fitSeed = 42L, threshold = 0.95,
          maxClusterSize = 20000, seed = 42L, driverFitMaxRows = gate))
      }
    }
  }

  test("driver path: fit and drop list in at most 3 jobs, leaving no persisted RDD") {
    val e = twinCorpus(7L)
    def run(gate: Int) = jobsOf {
      SemDeDup.fitAndDropListGated(e, "embedding", "vec_id", k = 8, iters = 3,
        fitSeed = 42L, threshold = 0.95, maxClusterSize = 20000, seed = 42L,
        driverFitMaxRows = gate)
    }._2.size
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val driverJobs = run(DriverCollect.DriverFitMaxRows)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "the driver path must persist nothing")
    val referenceJobs = run(-1)
    assert(driverJobs <= 3, s"driver path launched $driverJobs jobs")
    assert(referenceJobs >= 20, s"the distributed reference launched only $referenceJobs jobs")
  }
}
