package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components over a candidate-pair list — the step that
 * turns near-duplicate PAIRS (MinHash/SimHash/embedding buckets emit
 * pairs) into duplicate GROUPS, so "keep one representative per
 * cluster" is well-defined even when similarity is only transitive
 * (A~B, B~C but A!~C must still collapse to one kept document).
 *
 * Algorithm: alternating hook + compress min-label propagation (the
 * Shiloach–Vishkin shape, same family as the MapReduce large-star/
 * small-star algorithm):
 *
 *  - hook:     comp(u) <- min(comp(u), min over neighbors v comp(v))
 *  - compress: comp(u) <- comp(comp(u))   (pointer jumping)
 *
 * Compress doubles the labeled distance per round, so a path of
 * length L converges in O(log L) rounds — NOT the O(L) of plain
 * label propagation, which matters when boilerplate chains thousands
 * of documents into one long component. Each round is two shuffles of
 * (id, comp) pairs (16 bytes/row) — never the documents themselves —
 * and the label set only shrinks toward one row per node, so at
 * 100 TB the cost is bounded by the PAIR count the candidate
 * generators emit, not the corpus size.
 *
 * Convergence is detected by the sum of labels: comp(u) is always a
 * node id within u's component and only ever decreases, so the sum is
 * strictly monotone until the fixpoint — an unchanged sum IS the
 * fixpoint, checked with one tiny aggregate per round. Lineage is
 * truncated per round via [[CheckpointDiscipline.truncate]]: a
 * RELIABLE checkpoint when the session has a checkpoint dir (the
 * production posture — a locally-checkpointed round is LOST on
 * executor failure), localCheckpoint otherwise.
 */
object DupGroups {

  /**
   * Edge-count threshold below which the component labels are resolved
   * with a driver-side union-find instead of iterative Spark rounds.
   * Candidate pairs are the OUTPUT of LSH candidate generation — tiny
   * relative to the corpus (a corpus with 2M near-dup pairs at 16
   * bytes/pair is ~32 MB on the driver) — so in the common case the
   * whole O(log L)-round job cascade collapses to one collect. Above
   * the threshold the distributed hook+compress path runs unchanged.
   */
  val DriverResolveMaxEdges: Int = 2 * 1000 * 1000

  /**
   * Label every node that appears in `pairs` with the smallest node id
   * of its connected component. Returns (`id`, `group_id`). Nodes not
   * mentioned in any pair are their own singleton groups and are NOT
   * emitted — callers union them back if needed (see
   * [[keepRepresentatives]], which does). A driver-resolved result is a
   * local relation, so Spark knows its exact size when planning joins
   * against it.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsBounded(pairs, aCol, bCol, maxIter, DriverResolveMaxEdges)

  /** [[connectedComponents]] with the driver-path edge bound as a
    * parameter; a negative bound forces the distributed rounds, so
    * specs check both paths against each other. */
  private[operators] def connectedComponentsBounded(pairs: DataFrame, aCol: String,
                                                    bCol: String, maxIter: Int,
                                                    driverResolveMaxEdges: Int): DataFrame = {
    // small-graph fast path FIRST (r21, guide §1.2 fewer driver
    // round-trips): candidate pairs are the small end of the funnel in
    // every production composition, and the old shape paid THREE
    // actions before any label existed — checkpoint the undirected
    // edge list, count it, collect it. One limit-guarded collect of
    // the RAW pair projection decides feasibility and fetches the
    // edges together: the union-find handles duplicate pairs and both
    // orientations natively, so the union+distinct shuffle was only
    // ever feeding the count. (Raw pairs over-count distinct edges, so
    // the threshold trips to the distributed path slightly earlier —
    // the conservative direction.) Integral ids only; other key types
    // take the distributed path below.
    val aType = pairs.schema(aCol).dataType
    val bType = pairs.schema(bCol).dataType
    if (integralId(aType) && integralId(bType)) {
      DriverCollect.collectAtMost(pairs
          .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
          .where(col("src") =!= col("dst")), driverResolveMaxEdges) match {
        case Some(edges) =>
          val spark = pairs.sparkSession
          val labels = unionFindLabels(edges.map(r => (r.getLong(0), r.getLong(1))))
          import spark.implicits._
          val out = labels.toSeq.toDF("id", "group_id")
          // both-int inputs keep int labels (the union in the distributed
          // path coerces mixed int/long to long; mirror that here)
          return if (aType == org.apache.spark.sql.types.IntegerType &&
              bType == org.apache.spark.sql.types.IntegerType)
            out.select(col("id").cast("int").as("id"),
              col("group_id").cast("int").as("group_id"))
          else out
        case None =>
          // over the driver bound: fall through to the distributed rounds
          // (the one oversized collect is the documented price of probing)
      }
    }

    // undirected adjacency: both orientations, self-loops dropped,
    // deduplicated once so repeated candidate pairs don't multiply
    // every subsequent join
    val und = CheckpointDiscipline.truncate(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct())

    // initial labels: min of self and direct neighbors (a free first hook)
    var labels = CheckpointDiscipline.truncate(
      und.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("comp")))

    // no candidate edges (every pair was a self-loop, or `pairs` is
    // empty — a normal production case): nothing to group
    if (labels.isEmpty) {
      CheckpointDiscipline.freeLocalCheckpoint(und)
      return labels.select(col("id"), col("comp").as("group_id"))
    }

    // convergence = no label changed this round — an exact check that
    // works for ANY id type (a label-sum variant would cast string ids
    // to numbers and fail; hashing them trades exactness for nothing:
    // both frames are checkpointed (id, label) pairs, so the join is
    // round-sized, like the hook itself)
    def changedCount(cur: DataFrame, prevLabels: DataFrame): Long =
      cur.join(prevLabels.select(col("id").as("_pid"), col("comp").as("_pcomp")),
          col("id") === col("_pid"))
        .where(col("comp") =!= col("_pcomp")).count()

    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // hook: per node, the minimum label among its neighbors
      // (join + agg rather than a self-referencing union — Catalyst's
      // union constraint propagation rejects children sharing
      // attribute lineage with the loop-carried `labels` plan)
      val nbrMin = und.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min("comp").as("nmin"))
      val hooked = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      // compress: jump to the label's own label (comp values are node
      // ids, so they can be looked up as ids; roots resolve to
      // themselves, non-root targets halve the remaining distance)
      val compressed = CheckpointDiscipline.truncate(hooked.as("x")
        .join(hooked.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("x.comp") === col("cid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("ccomp"), col("x.comp")).as("comp")))
      converged = changedCount(compressed, labels) == 0
      // the previous round's labels are superseded the moment the new
      // checkpoint is materialized AND the convergence check has read
      // them — release the blocks now, or a long component chain pins
      // every round's frame until session end
      CheckpointDiscipline.freeLocalCheckpoint(labels)
      labels = compressed
      it += 1
    }
    CheckpointDiscipline.freeLocalCheckpoint(und)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "labels would be partially propagated (documents kept that " +
          "belong to an already-represented group). Raise maxIter: " +
          "compress doubles the resolved distance per round, so even " +
          "a path of 2^50 nodes fits in the default 50.")
    labels.select(col("id"), col("comp").as("group_id"))
  }

  /** Id types the driver-side paths resolve (as longs); other key
    * types take the distributed rounds. */
  private[operators] def integralId(t: org.apache.spark.sql.types.DataType): Boolean =
    t == org.apache.spark.sql.types.LongType || t == org.apache.spark.sql.types.IntegerType

  /** Path-compressing union-find, labels normalized to the component
    * minimum id — the same contract as the distributed path. */
  private[operators] def unionFindLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x // compress
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /**
   * The dedup ending: keep exactly one document per duplicate group —
   * the group's minimum id — and every document that is in no group.
   * One anti join against the set of non-representative members; the
   * corpus itself is never shuffled when that set broadcasts. The drop
   * side carries no broadcast hint: a driver-resolved group table is a
   * local relation Spark sizes exactly, so the planner broadcasts it
   * when it fits, and a mass-duplicated corpus's O(corpus) drop set is
   * never forced onto the driver (AQE may still broadcast it from its
   * actual size).
   */
  def keepRepresentatives(corpus: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol, maxIter)
      .where(col("id") =!= col("group_id"))
      .select(col("id").as("_drop_id"))
    corpus.join(drop, col(idCol) === col("_drop_id"), "left_anti")
  }
}
