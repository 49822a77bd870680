package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
 * rounds only), and the final drop list broadcasts into the anti
 * join ONLY when a count gate says it fits (see [[dedup]]) — under
 * mass duplication the drop list is O(corpus), and an unconditional
 * broadcast would be a driver-OOM job-killer, not a slowdown.
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
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1: $maxClusterSize")
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
    * Broadcast gate (the [[Dedup.exact]] `broadcastDupSet` discipline,
    * made automatic): on exactly the corpus SemDeDup targets —
    * mass-replicated crawl data — identity copies make the drop list
    * O(corpus), and force-broadcasting billions of ids is a driver
    * OOM / 8 GB broadcast-limit job-killer. The drop list is therefore
    * only hinted `broadcast` when an UPPER BOUND on its size fits
    * `maxBroadcastIds`: |drop| = |identity copies| + |semantic drops|,
    * the first term exact and the second bounded by the identity-group
    * count, both read off one scalar aggregate over the same
    * fingerprint keying the pre-grouping already computes. Above the
    * cap the anti join falls back to a plain shuffle join — AQE may
    * still choose broadcast at runtime from the drop list's ACTUAL
    * size; the gate only removes the forced hint. The gate costs one
    * ids-only aggregate job at construction (a column-pruned scan
    * shuffling 16 bytes per distinct vector). `maxBroadcastIds =
    * Long.MaxValue` skips the gate job and always broadcasts — safe
    * only when the caller KNOWS duplication is bounded; `<= 0` always
    * takes the shuffle path (also no gate job).
    *
    * Construction is NOT fully lazy and cannot be: resolving duplicate
    * GROUPS is iterative ([[DupGroups.connectedComponents]] hooks +
    * compresses until a fixpoint), so those rounds necessarily run as
    * jobs when `dedup` is called — a documented, load-bearing
    * computation, not a surprise probe. Everything else obeys the BM25
    * laziness rule: [[dupPairs]] with a known `dim` builds its plan
    * with zero jobs, and the gate aggregate is the only job `dedup`
    * adds beyond the group resolution. */
  def dedup(embeddings: DataFrame, vecCol: String, idCol: String,
            centroids: Array[Array[Double]], threshold: Double = 0.95,
            maxClusterSize: Int = 20000, seed: Long = 42L,
            maxBroadcastIds: Long = 10000000L): DataFrame =
    embeddings.join(
      dropList(embeddings, vecCol, idCol, centroids, threshold, maxClusterSize,
        seed, maxBroadcastIds),
      col(idCol) === col("_drop_id"), "left_anti")

  /** The drop list [[dedup]] anti-joins: one `_drop_id` column holding
    * every identity copy and semantic duplicate, broadcast-hinted iff
    * the size gate documented on [[dedup]] says it fits. Exposed so
    * consumers that need the DROPPED side (e.g. curation pruning a
    * text table by embedding-table drops) anti-join this directly
    * instead of re-deriving it by double negation — which would
    * evaluate the whole SemDeDup DAG twice plus two extra
    * embedding-table scans. */
  def dropList(embeddings: DataFrame, vecCol: String, idCol: String,
               centroids: Array[Array[Double]], threshold: Double = 0.95,
               maxClusterSize: Int = 20000, seed: Long = 42L,
               maxBroadcastIds: Long = 10000000L): DataFrame = {
    val st = identityStage(embeddings, vecCol, idCol, maxBroadcastIds)
    semanticStage(embeddings, vecCol, idCol, centroids, threshold,
      maxClusterSize, seed, st)
  }

  /** The centroid-independent half of [[dropList]]: identity
    * pre-grouping (keyed fingerprints, per-group representatives) and
    * the broadcast size gate. Split out (r21) so callers that also FIT
    * the centroids can run this stage CONCURRENTLY with the fit
    * ([[fitAndDropList]]) — the two touch disjoint columns and the
    * fit's 1+iters driver collects otherwise serialize in front of it.
    * `keyed` is left PERSISTED; [[semanticStage]] releases it. */
  private[operators] final case class IdentityStage(
      keyed: DataFrame, reps: DataFrame, broadcastDrop: Boolean)

  private[operators] def identityStage(embeddings: DataFrame, vecCol: String,
                                       idCol: String,
                                       maxBroadcastIds: Long): IdentityStage = {
    // The drop-list DAG reads its two hot intermediates MANY times —
    // (id, hash) feeds the rep groupBy, the size gate and the copies
    // join; the assigned reps feed BOTH sides of the pair self-join,
    // the distance lookup in dropIds, and connectedComponents' two
    // evaluations of the pair frame. Lazy, every one of those re-ran
    // the full upstream (corpus scan + the k×dim nearest-centroid
    // expression); measured 24 s warm at the 22k-row sf1 gate vs 8 s
    // cached. Both frames are the SMALL end: keyed is 16 bytes/row,
    // assigned is one row per DISTINCT vector. Persist → materialize
    // the drop list eagerly → release (the CheckpointDiscipline
    // shape, so a long-lived session keeps only the drop ids).
    val keyed = embeddings.select(col(idCol).as("_sd_id"), xxhash64(col(vecCol)).as("_k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = keyed.groupBy(col("_k")).agg(min(col("_sd_id")).as("_rep"))
    val broadcastDrop =
      if (maxBroadcastIds == Long.MaxValue) true
      else if (maxBroadcastIds <= 0L) false
      else {
        // copies = Σ(group size − 1) exactly; semantic drops < #groups.
        // A failed or cancelled gate job hands no stage to the caller,
        // so nothing downstream would ever release `keyed`
        val b =
          try keyed.groupBy(col("_k")).agg(count(lit(1)).as("_gn"))
            .agg(coalesce(sum(col("_gn") - 1), lit(0L)), count(lit(1))).head()
          catch { case e: Throwable => keyed.unpersist(); throw e }
        b.getLong(0) + b.getLong(1) <= maxBroadcastIds
      }
    IdentityStage(keyed, reps, broadcastDrop)
  }

  private[operators] def semanticStage(embeddings: DataFrame, vecCol: String,
                                       idCol: String,
                                       centroids: Array[Array[Double]],
                                       threshold: Double, maxClusterSize: Int,
                                       seed: Long, st: IdentityStage): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val dim = centroids(0).length
    val repRows = embeddings.join(
      st.reps.select(col("_rep")), col(idCol) === col("_rep"), "left_semi")
    val assigned = Clustering.assign(repRows, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // identity copies: every non-representative member of an identity
      // group — dropped unconditionally (cosine exactly 1 to its rep)
      val copies = st.keyed.join(st.reps, "_k").where(col("_sd_id") =!= col("_rep"))
        .select(col("_sd_id").as("_drop_id"))
      val pairs = dupPairs(assigned, vecCol, idCol, threshold, maxClusterSize, seed, dim)
      val semantic = dropIds(assigned, pairs, idCol).select(col("id").as("_drop_id"))
      val drop = copies.unionByName(semantic).distinct().localCheckpoint(true)
      if (st.broadcastDrop) broadcast(drop) else drop
    } finally { st.keyed.unpersist(); assigned.unpersist(); () }
  }

  /** [[dedup]] composed over [[fitAndDropList]]: fit + prune in one
    * call with the fit and the identity stage overlapped. Identical
    * results to `dedup(emb, …, Clustering.fit(emb, …), …)`. */
  def dedupWithFit(embeddings: DataFrame, vecCol: String, idCol: String,
                   k: Int, iters: Int = 5, fitSeed: Long = 42L,
                   threshold: Double = 0.95, maxClusterSize: Int = 20000,
                   seed: Long = 42L,
                   maxBroadcastIds: Long = 10000000L): DataFrame =
    embeddings.join(
      fitAndDropList(embeddings, vecCol, idCol, k, iters, fitSeed, threshold,
        maxClusterSize, seed, maxBroadcastIds)._2,
      col(idCol) === col("_drop_id"), "left_anti")

  /** [[Clustering.fit]] + [[dropList]] with the identity stage run
    * CONCURRENTLY with the fit (guide §2.6 — the two are independent:
    * the fit reads only the vector column, the identity stage only
    * (id, xxhash64(vector))), composing to bit-identical results. The
    * r21 q_curation_v2 profile measured the semdedup chain as the
    * pipeline's critical path, ~40 serial driver-blocking jobs of
    * which the fit's 1+iters collects and the identity gate aggregate
    * have no ordering dependency at all. */
  def fitAndDropList(embeddings: DataFrame, vecCol: String, idCol: String,
                     k: Int, iters: Int = 5, fitSeed: Long = 42L,
                     threshold: Double = 0.95, maxClusterSize: Int = 20000,
                     seed: Long = 42L,
                     maxBroadcastIds: Long = 10000000L): (Array[Array[Double]], DataFrame) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = embeddings.sparkSession.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val idFut = Future {
        sc.setJobDescription("semdedup: identity pre-group + size gate")
        identityStage(embeddings, vecCol, idCol, maxBroadcastIds)
      }
      val cents =
        try Clustering.fit(embeddings, vecCol, k, iters, fitSeed)
        catch { case e: Throwable =>
          // the identity stage left `keyed` persisted; a fit failure
          // must not leak it for the session's lifetime
          try Await.result(idFut, Duration.Inf).keyed.unpersist()
          catch { case _: Throwable => () }
          throw e
        }
      val st = Await.result(idFut, Duration.Inf)
      (cents, semanticStage(embeddings, vecCol, idCol, cents, threshold,
        maxClusterSize, seed, st))
    } finally { pool.shutdown(); () }
  }
}
