package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * SemDeDup — semantic deduplication by cluster-then-prune (Abbas,
 * Tirumala et al. 2023, "SemDeDup: Data-efficient learning at
 * web-scale through semantic deduplication"): k-means the embedding
 * space, compare pairs only WITHIN a cluster, and inside every group
 * of semantic duplicates keep the member with the LOWEST similarity
 * to its cluster centroid — pruning redundancy while preserving the
 * diversity tail. Complements [[EmbedDedup]] (LSH-bucketed near-dup,
 * pair-level) with the paper's cluster-local contract and
 * diversity-keeping representative rule.
 *
 * Scale story: cluster assignment is one scan against a literal
 * centroid matrix (no shuffle — [[Clustering.assign]]); the pair join
 * is keyed by cluster, and SemDeDup's own design assumption (k grows
 * with the corpus, so clusters stay bounded) is enforced rather than
 * hoped for — clusters above `maxClusterSize` are sub-split by a
 * sign-LSH bucket, so no join partition ever goes quadratic in the
 * corpus (bit-identical embeddings always share an LSH bucket, so
 * exact duplicates can never be split apart; genuinely near — not
 * identical — pairs across sub-bucket boundaries are the documented
 * recall trade, the same as EmbedDedup's maxBucket). Duplicate
 * groups resolve via [[DupGroups.connectedComponents]] ((id, label)
 * rounds only), and the final drop list is force-broadcast into the
 * anti join ONLY when its exact, already-counted size fits (see
 * [[dedup]]) — under mass duplication the drop list is O(corpus), and
 * an unconditional broadcast would be a driver-OOM job-killer, not a
 * slowdown.
 *
 * Small inputs skip all of that: at or below
 * [[DriverCollect.DriverFitMaxRows]] non-null embeddings with integral
 * ids, [[dropList]] and [[fitAndDropList]] fetch ids and vectors in ONE
 * limit-guarded collect, hash them with the Spark expressions the
 * distributed plan groups and seeds by, and compute the same fit and
 * drop list on the driver, through the same k-means ([[AnnSearch.kmeansLocal]]), the
 * same nearest-centroid and cosine kernels and the same union-find
 * [[DupGroups]] uses. The distributed path costs dozens of small Spark
 * jobs (k-means rounds, the identity and pair joins, the component
 * collect, the checkpoint) whose latency, not the data, sets its wall
 * time at that size. The driver
 * path falls back to the distributed drop list when a cluster exceeds
 * `maxClusterSize` (the sub-bucket split stays distributed). At the
 * gate the driver holds at most 10k ids and vectors as doubles (1.3 MB
 * at dim 16, 82 MB at dim 1024), and the gate also bounds the
 * within-cluster pair loop, which costs O(Σ cluster² · dim): at most
 * 5·10⁷ cosines when every vector lands in one cluster, about 6·10⁶
 * at the k = 8 default when clusters are balanced.
 *
 * Embeddings that are null are never compared, grouped or dropped:
 * docs without an embedding are kept.
 */
object SemDeDup {

  /** Semantic duplicate pairs within clusters:
    * (cluster, id_a, id_b, cosine >= threshold). `assigned` must
    * carry the `cluster` column from [[Clustering.assign]]. Pass
    * `dim` (the embedding dimensionality) when the caller knows it —
    * [[dedup]] reads it off its centroids — and construction launches
    * ZERO Spark jobs (the BM25 laziness rule); the default `dim = -1`
    * probes the first row, which costs one job. */
  def dupPairs(assigned: DataFrame, vecCol: String, idCol: String,
               threshold: Double, maxClusterSize: Int = 20000,
               seed: Long = 42L, dim: Int = -1): DataFrame = {
    requirePairParams(threshold, maxClusterSize)
    graft.expr.GraftFunctions.ensure(assigned.sparkSession)
    val d = if (dim > 0) dim else {
      // an upstream filter can legitimately empty the corpus — no
      // pairs, not a crash (the dim probe needs one row)
      val dimRow = assigned.select(size(col(vecCol))).take(1)
      if (dimRow.isEmpty)
        return assigned.select(col("cluster"),
          col(idCol).as("id_a"), col(idCol).as("id_b"), lit(0.0d).as("cosine"))
          .where(lit(false))
      dimRow.head.getInt(0)
    }
    val planes = AnnSearch.hyperplanes(d, 16, seed).map(_.toSeq).toSeq
    val bucket = element_at(
      graft.expr.GraftFunctions.lshBuckets(col(vecCol), planes, 16), 1)
    // per-cluster sizes are k rows — broadcast; oversized clusters get
    // ceil(size / maxClusterSize) sub-buckets, everyone else _sb = 0
    val sizes = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("_csz"))
    val keyed = assigned.join(broadcast(sizes), "cluster")
      .withColumn("_nsb",
        greatest(lit(1L), ceil(col("_csz").cast("double") / maxClusterSize).cast("long")))
      .withColumn("_sb", pmod(bucket, col("_nsb")))
      .select(col("cluster"), col("_sb"), col(idCol).as("_id"), col(vecCol).as("_v"))
    keyed.as("a").join(keyed.as("b"),
        col("a.cluster") === col("b.cluster") && col("a._sb") === col("b._sb") &&
          col("a._id") < col("b._id"))
      .select(col("a.cluster").as("cluster"),
        col("a._id").as("id_a"), col("b._id").as("id_b"),
        round(VectorMath.cosineFast(col("a._v"), col("b._v")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** The ids SemDeDup removes: every duplicate-group member EXCEPT
    * the one farthest from its cluster centroid (the paper's
    * keep-lowest-centroid-similarity rule; ties keep the lowest id).
    * Output: (id, group_id). */
  def dropIds(assigned: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val groups = DupGroups.connectedComponents(pairs, "id_a", "id_b")
    val dist = assigned.select(col(idCol).as("id"), col("dist2"))
    // groups are duplicate docs only (small relative to the corpus);
    // the window runs over them, never the corpus. The tie-break
    // negates dist2 (always a double) rather than the id, so string
    // ids — which connectedComponents supports — order correctly:
    // min(-dist2, id) = farthest from centroid, then LOWEST id.
    val w = Window.partitionBy("group_id")
    groups.join(dist, "id")
      .withColumn("_pick", struct((-col("dist2")).as("nd"), col("id").as("i")))
      .withColumn("_best", min(col("_pick")).over(w))
      .where(col("_pick") =!= col("_best"))
      .select(col("id"), col("group_id"))
  }

  /** The corpus minus semantic duplicates — one call from raw
    * embeddings + fitted centroids ([[Clustering.fit]]).
    *
    * Mass-duplication guard (the Dedup.DupPlan discipline): replicated
    * corpora carry BIT-IDENTICAL embeddings, and g copies would
    * otherwise put O(g²) pairs into every cluster join. Identical
    * vectors always satisfy any threshold ≤ 1 and share their dist2,
    * so pre-grouping by an 8-byte vector fingerprint is EXACTLY
    * result-preserving: only each identity group's min-id
    * representative enters the pair join (its id/dist2 are what the
    * representative rule would pick anyway), and non-representative
    * copies are dropped unconditionally — measured 10× faster on the
    * 10×-replicated sf1 corpus, with the same survivors. The
    * fingerprint collision trade (2⁻⁶⁴/pair mislabel) is the same one
    * exact dedup and EmbedDedup document.
    *
    * Broadcast rule: on exactly the corpus SemDeDup targets —
    * mass-replicated crawl data — identity copies make the drop list
    * O(corpus), and force-broadcasting billions of ids is a driver
    * OOM / 8 GB broadcast-limit job-killer. The drop list is
    * materialized anyway (see [[dropList]]), and the same action counts
    * it (`observe`), so the anti join is hinted `broadcast` only when
    * that EXACT size fits [[MaxBroadcastDropIds]]. Above it the anti
    * join is left to the planner — AQE may still choose broadcast at
    * runtime from the drop list's actual size. The count costs no job.
    *
    * Construction is NOT fully lazy and cannot be: resolving duplicate
    * GROUPS is iterative ([[DupGroups.connectedComponents]] hooks +
    * compresses until a fixpoint), so those rounds necessarily run as
    * jobs when `dedup` is called, followed by the drop list's one
    * materializing action — a documented, load-bearing computation,
    * not a surprise probe. Everything else obeys the BM25 laziness
    * rule: [[dupPairs]] with a known `dim` builds its plan with zero
    * jobs. */
  def dedup(embeddings: DataFrame, vecCol: String, idCol: String,
            centroids: Array[Array[Double]], threshold: Double = 0.95,
            maxClusterSize: Int = 20000, seed: Long = 42L): DataFrame =
    embeddings.join(
      dropList(embeddings, vecCol, idCol, centroids, threshold, maxClusterSize, seed),
      col(idCol) === col("_drop_id"), "left_anti")

  /** Force-broadcast ceiling for the drop list, in ids (8 bytes each,
    * so ~80 MB of broadcast at the ceiling). */
  private[operators] val MaxBroadcastDropIds: Long = 10000000L

  /** The drop list [[dedup]] anti-joins: one `_drop_id` column holding
    * every identity copy and semantic duplicate, materialized
    * (localCheckpoint) and broadcast-hinted iff its exact size fits
    * [[MaxBroadcastDropIds]]. Exposed so consumers that need the
    * DROPPED side (e.g. curation pruning a text table by
    * embedding-table drops) anti-join this directly instead of
    * re-deriving it by double negation — which would evaluate the
    * whole SemDeDup DAG twice plus two extra embedding-table scans. */
  def dropList(embeddings: DataFrame, vecCol: String, idCol: String,
               centroids: Array[Array[Double]], threshold: Double = 0.95,
               maxClusterSize: Int = 20000, seed: Long = 42L): DataFrame =
    dropListGated(embeddings, vecCol, idCol, centroids, threshold,
      maxClusterSize, seed, MaxBroadcastDropIds)

  /** [[dropList]] with the broadcast ceiling and the driver-path gate
    * as parameters, so specs reach every side of both on a small
    * fixture; a negative `driverFitMaxRows` always runs the
    * distributed drop list, the reference the driver path must
    * reproduce. */
  private[operators] def dropListGated(embeddings: DataFrame, vecCol: String,
                                       idCol: String,
                                       centroids: Array[Array[Double]],
                                       threshold: Double, maxClusterSize: Int,
                                       seed: Long, maxBroadcast: Long,
                                       driverFitMaxRows: Int = DriverCollect.DriverFitMaxRows): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    requirePairParams(threshold, maxClusterSize)
    val idType = embeddings.schema(idCol).dataType
    val local =
      if (!DupGroups.integralId(idType)) None
      else AnnSearch.collectHashed(embeddings, vecCol, Some(idCol), seed, driverFitMaxRows)
        .flatMap(localDropIds(_, centroids, threshold, maxClusterSize))
    local.map(dropFrame(embeddings, idType, _, maxBroadcast)).getOrElse(
      distributedDropList(embeddings, vecCol, idCol, centroids, threshold,
        maxClusterSize, seed, maxBroadcast))
  }

  private def requirePairParams(threshold: Double, maxClusterSize: Int): Unit = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1: $maxClusterSize")
  }

  private def distributedDropList(embeddings: DataFrame, vecCol: String, idCol: String,
                                  centroids: Array[Array[Double]], threshold: Double,
                                  maxClusterSize: Int, seed: Long,
                                  maxBroadcast: Long): DataFrame = {
    val dim = centroids(0).length
    // The drop-list DAG reads its two hot intermediates MANY times —
    // (id, hash) feeds the rep groupBy and the copies join; the
    // assigned reps feed BOTH sides of the pair self-join, the distance
    // lookup in dropIds, and connectedComponents' two evaluations of
    // the pair frame. Lazy, every one of those re-ran the full upstream
    // (corpus scan + the k×dim nearest-centroid expression); measured
    // 24 s warm at the 22k-row sf1 gate vs 8 s cached. Both frames are
    // the SMALL end: keyed is 16 bytes/row, assigned is one row per
    // DISTINCT vector. Persist → materialize the drop list eagerly →
    // release (the CheckpointDiscipline shape, so a long-lived session
    // keeps only the drop ids). Both are built before either is
    // persisted, so a plan that fails analysis leaves nothing cached;
    // `keyed` is persisted first so the plan cached for `assigned`
    // reads it. Null embeddings take no part: xxhash64(null) is the
    // seed, so they would otherwise form one identity group.
    val embedded = embeddings.where(col(vecCol).isNotNull)
    val keyed = embedded.select(col(idCol).as("_sd_id"), xxhash64(col(vecCol)).as("_k"))
    val reps = keyed.groupBy(col("_k")).agg(min(col("_sd_id")).as("_rep"))
    val assigned = Clustering.assign(
      embedded.join(reps.select(col("_rep")), col(idCol) === col("_rep"), "left_semi"),
      vecCol, centroids)
    keyed.persist(StorageLevel.MEMORY_AND_DISK)
    assigned.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // identity copies: every non-representative member of an identity
      // group — dropped unconditionally (cosine exactly 1 to its rep)
      val copies = keyed.join(reps, "_k").where(col("_sd_id") =!= col("_rep"))
        .select(col("_sd_id").as("_drop_id"))
      val pairs = dupPairs(assigned, vecCol, idCol, threshold, maxClusterSize, seed, dim)
      val semantic = dropIds(assigned, pairs, idCol).select(col("id").as("_drop_id"))
      val obs = Observation()
      val drop = copies.unionByName(semantic).distinct()
        .observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
      if (obs.get("n").asInstanceOf[Long] <= maxBroadcast) broadcast(drop) else drop
    } finally { keyed.unpersist(); assigned.unpersist(); () }
  }

  /** The distributed drop list computed on the driver from collected
    * rows, or None when a cluster exceeds `maxClusterSize`. Mirrors
    * every rule of [[distributedDropList]]: identity groups by `h`
    * with the min id as representative and every other member an
    * identity copy; each row whose id is a representative id is
    * assigned (the semi join's rule); within a cluster, rows pair when
    * their ids ascend and Spark's HALF_UP `round(cosine, 6)` reaches
    * `threshold`; groups resolve by union-find, and every member row
    * except the one with the largest dist2 (lowest id on ties) drops.
    * Rows without an id take part in nothing, as there. */
  private def localDropIds(rows: Array[AnnSearch.HashedVec], centroids: Array[Array[Double]],
                           threshold: Double, maxClusterSize: Int): Option[Array[Long]] = {
    import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
    val withId = rows.filter(_.id.isDefined)
    val rep = scala.collection.mutable.LongMap.empty[Long]
    withId.foreach { r =>
      val id = r.id.get
      if (rep.get(r.h).forall(_ > id)) rep(r.h) = id
    }
    val copies = withId.collect { case r if r.id.get != rep(r.h) => r.id.get }
    val repIds = rep.values.toSet
    final case class Assigned(id: Long, dist2: Double, vec: ArrayData)
    val clusters = withId.filter(r => repIds(r.id.get)).map { r =>
      val c = graft.expr.NearestCentroid.closest(r.checked, centroids)
      c -> Assigned(r.id.get, graft.expr.NearestCentroid.dist2(r.vec, centroids(c)),
        ArrayData.toArrayData(r.vec))
    }.groupMap(_._1)(_._2).values.toArray
    if (clusters.exists(_.length > maxClusterSize)) return None

    val edges = Array.newBuilder[(Long, Long)]
    clusters.foreach { members =>
      var i = 0
      while (i < members.length) {
        val a = members(i)
        var j = i + 1
        while (j < members.length) {
          val b = members(j)
          if (a.id != b.id &&
              keepsPair(graft.expr.CosineSimilarity.cosine(a.vec, false, b.vec, false), threshold))
            edges += (math.min(a.id, b.id) -> math.max(a.id, b.id))
          j += 1
        }
        i += 1
      }
    }
    val group = DupGroups.unionFindLabels(edges.result())
    // min(struct(-dist2, id)) per group under Spark's ordering (NaN
    // greatest, -0.0 == 0.0): the farthest member, lowest id on ties
    def before(a: Assigned, b: Assigned): Int = {
      val byDist = SQLOrderingUtil.compareDoubles(-a.dist2, -b.dist2)
      if (byDist != 0) byDist else java.lang.Long.compare(a.id, b.id)
    }
    val members = clusters.iterator.flatten.filter(m => group.contains(m.id)).toArray
    val best = members.groupBy(m => group(m.id)).map { case (g, ms) =>
      g -> ms.reduce((a, b) => if (before(a, b) <= 0) a else b)
    }
    val semantic = members.collect { case m if before(m, best(group(m.id))) != 0 => m.id }
    Some((copies ++ semantic).distinct)
  }

  /** `round(cosine, 6) >= threshold` as Spark evaluates it: HALF_UP
    * rounding of the double's decimal form, NaN above every double.
    * Rounding moves a value by at most 5e-7, so only cosines near the
    * threshold need the exact decimal rounding. */
  private def keepsPair(cosine: Double, threshold: Double): Boolean =
    if (cosine.isNaN) true
    else if (math.abs(cosine - threshold) > 1e-5) cosine > threshold
    else java.math.BigDecimal.valueOf(cosine)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() >= threshold

  /** The drop ids as a local relation typed like the id column, hinted
    * `broadcast` iff its size fits `maxBroadcast`. */
  private def dropFrame(embeddings: DataFrame, idType: org.apache.spark.sql.types.DataType,
                        ids: Array[Long], maxBroadcast: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val rows = ids.toSeq.map(i => if (idType == IntegerType) Row(i.toInt) else Row(i))
    val drop = embeddings.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("_drop_id", idType, nullable = false))))
    if (ids.length <= maxBroadcast) broadcast(drop) else drop
  }

  /** [[dedup]] composed over [[fitAndDropList]]: fit + prune in one
    * call. Identical results to
    * `dedup(emb, …, Clustering.fit(emb, …), …)`. */
  def dedupWithFit(embeddings: DataFrame, vecCol: String, idCol: String,
                   k: Int, iters: Int = 5, fitSeed: Long = 42L,
                   threshold: Double = 0.95, maxClusterSize: Int = 20000,
                   seed: Long = 42L): DataFrame =
    embeddings.join(
      fitAndDropList(embeddings, vecCol, idCol, k, iters, fitSeed, threshold,
        maxClusterSize, seed)._2,
      col(idCol) === col("_drop_id"), "left_anti")

  /** [[Clustering.fit]] followed by [[dropList]]: the fitted centroids
    * and the drop list they produce. Below [[DriverCollect.DriverFitMaxRows]] the fit
    * and the drop list share one collect. */
  def fitAndDropList(embeddings: DataFrame, vecCol: String, idCol: String,
                     k: Int, iters: Int = 5, fitSeed: Long = 42L,
                     threshold: Double = 0.95, maxClusterSize: Int = 20000,
                     seed: Long = 42L): (Array[Array[Double]], DataFrame) =
    fitAndDropListGated(embeddings, vecCol, idCol, k, iters, fitSeed, threshold,
      maxClusterSize, seed, DriverCollect.DriverFitMaxRows)

  /** [[fitAndDropList]] with the driver-path gate as an argument; a
    * negative gate runs the distributed fit and drop list. */
  private[operators] def fitAndDropListGated(embeddings: DataFrame, vecCol: String,
                                             idCol: String, k: Int, iters: Int,
                                             fitSeed: Long, threshold: Double,
                                             maxClusterSize: Int, seed: Long,
                                             driverFitMaxRows: Int)
      : (Array[Array[Double]], DataFrame) = {
    requirePairParams(threshold, maxClusterSize)
    val idType = embeddings.schema(idCol).dataType
    val integral = DupGroups.integralId(idType)
    val rows =
      if (!integral) None
      else AnnSearch.collectHashed(embeddings, vecCol, Some(idCol), fitSeed, driverFitMaxRows)
    val cents = rows match {
      case Some(r) => AnnSearch.kmeansLocal(r, k, iters)
      // an integral-id input that missed the gate would miss the fit's
      // own gate too (same rows): skip that second oversized collect
      case None => AnnSearch.kmeansGated(embeddings, vecCol, k, iters, fitSeed,
        if (integral) -1 else driverFitMaxRows)
    }
    val local = rows.flatMap(localDropIds(_, cents, threshold, maxClusterSize))
    (cents, local.map(dropFrame(embeddings, idType, _, MaxBroadcastDropIds)).getOrElse(
      dropListGated(embeddings, vecCol, idCol, cents, threshold, maxClusterSize, seed,
        MaxBroadcastDropIds, driverFitMaxRows = -1)))
  }
}
