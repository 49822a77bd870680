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
}
