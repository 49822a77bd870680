package graft.operators

import graft.SparkSpec

/** Connected components over candidate pairs (DupGroups). */
class DupGroupsSpec extends SparkSpec {
  import spark.implicits._

  /** Resolve components through BOTH the driver union-find fast path
    * and the distributed hook+compress path, assert they agree, and
    * return the result — every graph in this suite covers both. */
  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val fast = DupGroups.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = DupGroups.connectedComponentsBounded(pairs.toDF("a", "b"), "a", "b",
        maxIter = 50, driverResolveMaxEdges = -1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist, "driver fast path and distributed path disagree")
    fast
  }

  /** Ground truth by union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize roots to the component MINIMUM id
    val members = parent.keys.toSeq
    val byRoot = members.groupBy(find)
    byRoot.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }.toMap
  }

  test("a long path collapses to its minimum id (log-round convergence)") {
    val n = 300L
    val pairs = (1L until n).map(i => (i, i + 1))
    val got = components(pairs)
    assert(got.size == n)
    assert(got.values.forall(_ == 1L), s"all labels must be 1, got ${got.values.toSet}")
  }

  test("disjoint components, cycles and stars each get their own min label") {
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L),       // triangle
      (20L, 21L), (20L, 22L), (20L, 23L),       // star
      (30L, 31L),                               // edge
      (40L, 41L), (41L, 42L), (42L, 43L), (40L, 43L)) // cycle of 4
    val got = components(pairs)
    assert(got == unionFind(pairs))
  }

  test("matches union-find on a deterministic random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    assert(components(pairs) == unionFind(pairs))
  }

  test("duplicate and reversed pairs don't change the result") {
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
    val got = components(pairs)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty pairs and self-loop-only pairs yield no groups (and no crash)") {
    assert(components(Seq.empty) == Map.empty)
    assert(components(Seq((5L, 5L), (9L, 9L))) == Map.empty)
    // keepRepresentatives on a corpus with no duplicate candidates
    // returns the corpus unchanged — the normal production case
    val corpus = (1L to 4L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = DupGroups.keepRepresentatives(
        corpus, "doc_id", Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("maxIter exhaustion raises instead of returning partial labels") {
    val pairs = (1L until 40L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      DupGroups.connectedComponentsBounded(pairs.toDF("a", "b"), "a", "b", maxIter = 1,
          driverResolveMaxEdges = -1)
        .collect()
    }
  }

  test("keepRepresentatives keeps the group minimum plus all unpaired docs") {
    val corpus = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val kept = DupGroups.keepRepresentatives(corpus, "doc_id", pairs, "a", "b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L, 6L, 8L, 9L, 10L))
  }

  test("keepRepresentatives: no forced broadcast, same keep set") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val corpus = (1L to 100L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    /** (anti join carries a hint, executed plan has a broadcast join, kept ids) */
    def run(): (Boolean, Boolean, Set[Long]) = {
      val out = DupGroups.keepRepresentatives(corpus, "doc_id", pairs, "a", "b")
      val hinted = out.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftAnti => j.hint.rightHint.exists(_.strategy.isDefined)
      }.exists(identity)
      val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
      (hinted, out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"), kept)
    }
    val (hinted, broadcasts, kept) = run()
    assert(!hinted, "the drop side must carry no forced broadcast hint")
    assert(broadcasts, "a driver-resolved drop set must broadcast from its known size")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (_, shuffled, keptShuffled) =
      try run() finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!shuffled, "with broadcast disabled the anti join must not broadcast")
    assert(keptShuffled == kept && kept == (1L to 100L).toSet -- Set(3L, 4L, 7L))
  }
}
