package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** L14: deterministic splits, stratified sampling, capping, mixing. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (1L to 10000L).map(i => (i, s"doc$i", (i % 7).toString))
    .toDF("id", "text", "domain").cache()

  test("deterministic split: disjoint, complete, stable, near the weights") {
    val Seq(train, value, test) = Sampling.deterministicSplit(
      docs, "id", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val (nTr, nV, nTe) = (train.count(), value.count(), test.count())
    assert(nTr + nV + nTe == 10000, "splits must partition the input")
    assert(math.abs(nTr - 8000) < 200, s"train size off: $nTr")
    assert(math.abs(nV - 1000) < 150 && math.abs(nTe - 1000) < 150, s"val/test off: $nV/$nTe")
    // disjoint
    assert(train.join(value, "id").count() == 0)
    assert(train.join(test, "id").count() == 0)
    // stable across invocations (same hash, not rand())
    val again = Sampling.deterministicSplit(
      docs, "id", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test")).head
    assert(again.select("id").except(train.select("id")).count() == 0)
    // different seed -> different membership
    val other = Sampling.deterministicSplit(
      docs, "id", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"), seed = 7L).head
    assert(other.select("id").except(train.select("id")).count() > 0)
  }

  test("stratified sampling respects per-stratum fractions") {
    val sampled = Sampling.stratifiedSample(docs, "domain",
      Map("0" -> 0.5, "1" -> 0.1), seed = 1L)
    val by = sampled.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n0 = docs.where(col("domain") === "0").count()
    assert(math.abs(by("0") - n0 * 0.5) < n0 * 0.2, s"stratum 0: ${by("0")}")
    assert(by.getOrElse("2", 0L) == 0, "unlisted strata must drop")
  }

  test("capPerKey keeps at most N deterministic rows per key") {
    val capped = Sampling.capPerKey(docs, "domain", 10, "id")
    val sizes = capped.groupBy("domain").count().select("count").as[Long].collect()
    assert(sizes.forall(_ == 10))
    // keeps the smallest ids (the declared order)
    assert(capped.where(col("domain") === "0").select(max("id")).as[Long].head() <= 70)
  }

  test("weightedMix replicates whole copies and samples the remainder") {
    val a = (1L to 1000L).map(i => (i, "a")).toDF("id", "src")
    val b = (1L to 1000L).map(i => (i, "b")).toDF("id", "src")
    val mixed = Sampling.weightedMix(Seq((a, 2.0), (b, 0.25)), "id")
    val by = mixed.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("a") == 2000, s"rate 2.0 must double: ${by("a")}")
    assert(math.abs(by("b") - 250) < 80, s"rate 0.25 off: ${by("b")}")
    // deterministic: same call, same counts
    val again = Sampling.weightedMix(Seq((a, 2.0), (b, 0.25)), "id")
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == by)
  }

  test("temperature rates: alpha=1 natural, alpha=0 uniform, total hits target") {
    val sizes = Seq(1000000L, 10000L, 100L)
    // alpha=1: rates equal across sources (each source contributes its
    // natural share, so the per-row rate is the same constant)
    val nat = Sampling.temperatureRates(sizes, alpha = 1.0, targetRows = 505050L)
    assert(nat.forall(r => math.abs(r - nat.head) < 1e-9))
    // alpha=0: equal EXPECTED ROWS per source regardless of size
    val uni = Sampling.temperatureRates(sizes, alpha = 0.0, targetRows = 300L)
    val rows = uni.zip(sizes).map { case (r, n) => r * n }
    assert(rows.forall(x => math.abs(x - 100.0) < 1e-6), rows.toString)
    // any alpha: expected total equals the target
    Seq(0.0, 0.3, 0.7, 1.0).foreach { a =>
      val rates = Sampling.temperatureRates(sizes, a, targetRows = 42000L)
      val tot = rates.zip(sizes).map { case (r, n) => r * n }.sum
      assert(math.abs(tot - 42000.0) < 1e-6, s"alpha=$a total=$tot")
      // smaller sources never get a LOWER rate than bigger ones
      assert(rates == rates.sorted, s"alpha=$a rates=$rates")
    }
    // a fractional-temperature mix through weightedMix lands near the target
    val a = (1L to 2000L).map(i => (i, "big")).toDF("id", "src")
    val b = (1L to 100L).map(i => (i + 10000L, "small")).toDF("id", "src")
    val rates = Sampling.temperatureRates(Seq(2000L, 100L), 0.5, 1000L)
    val mixed = Sampling.weightedMix(Seq(a -> rates(0), b -> rates(1)), "id")
    val n = mixed.count()
    assert(n > 800 && n < 1200, s"mixed $n rows for target 1000")
  }

  test("capPerKeyByBudget: running token totals respect the cap; first row always kept") {
    val rows = Seq(
      ("a", 1L, 400L), ("a", 2L, 400L), ("a", 3L, 400L),   // third row would exceed 1000
      ("b", 1L, 5000L),                                    // single over-budget row kept
      ("c", 1L, 100L), ("c", 2L, 100L))                    // all within budget
      .toDF("domain", "seq", "n_tokens")
    val kept = Sampling.capPerKeyByBudget(rows, "domain", "n_tokens", 1000L, "seq")
      .select("domain", "seq").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept == Set(("a", 1L), ("a", 2L), ("b", 1L), ("c", 1L), ("c", 2L)))
  }

  test("group-safe split: near-duplicate groups never straddle splits, ungrouped docs split as before") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chains (1,2),(2,3) and (5,6): groups {1,2,3} and {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val groups = DupGroups.connectedComponents(pairs, "a", "b")
    // several seeds: members of one group always share a split
    Seq(1L, 7L, 42L).foreach { seed =>
      val labeled = Sampling.withGroupSafeSplitLabel(docs, "doc_id", groups,
        Seq(0.5, 0.5), Seq("train", "test"), seed)
      val byId = labeled.select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(Set(byId(1L), byId(2L), byId(3L)).size == 1, s"group {1,2,3} split at seed $seed")
      assert(byId(5L) == byId(6L), s"group {5,6} split at seed $seed")
      // ungrouped ids use their own hash — identical to the plain split
      val plain = Sampling.withSplitLabel(docs.where(col("doc_id") > 6), "doc_id",
        Seq(0.5, 0.5), Seq("train", "test"), seed)
        .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      plain.foreach { case (id, s) => assert(byId(id) == s, s"ungrouped doc $id at seed $seed") }
      // both splits are populated (deterministic split still splits)
      assert(byId.values.toSet == Set("train", "test"))
    }
    // no extra or lost rows, schema untouched apart from the label
    val labeled = Sampling.withGroupSafeSplitLabel(docs, "doc_id", groups,
      Seq(0.8, 0.2), Seq("train", "test"))
    assert(labeled.count() == 200)
    assert(labeled.columns.toSeq == Seq("doc_id", "text", "split"))
  }

  test("group-safe split: unhinted join, same labels on both plans") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val groups = DupGroups.connectedComponents(pairs, "a", "b")
    /** (group join carries a hint, executed plan has a broadcast join, labels) */
    def run(): (Boolean, Boolean, Map[Long, String]) = {
      val labeled = Sampling.withGroupSafeSplitLabel(docs, "doc_id", groups,
        Seq(0.5, 0.5), Seq("train", "test"))
      val hinted = labeled.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.exists(_.references.exists(_.name == "_gs_id")) =>
          j.hint.rightHint.exists(_.strategy.isDefined)
      }.exists(identity)
      val labels = labeled.select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      (hinted, labeled.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"), labels)
    }
    val (hinted, broadcasts, labels) = run()
    assert(!hinted, "the group join must carry no forced broadcast hint")
    assert(broadcasts, "driver-resolved groups must broadcast from their known size")
    // the mass-dup case: a group table Spark will not broadcast takes
    // the shuffle left join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (_, shuffled, shuffledLabels) =
      try run() finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!shuffled, "with broadcast disabled the group join must not broadcast")
    // and the labels are bit-identical either way
    assert(shuffledLabels == labels && labels.size == 100, "plan choice must never change the split")
  }

  test("globalShuffle: reproducible permutation, partitioning-independent, content-preserving") {
    val rows = (1L to 500L).map(i => (i, s"doc$i"))
    val df = rows.toDF("id", "text")
    def order(d: org.apache.spark.sql.DataFrame, seed: Long) =
      Sampling.globalShuffle(d, "id", seed, numPartitions = 7)
        .select("id").collect().map(_.getLong(0)).toSeq
    val o1 = order(df, 42L)
    // content preserved exactly
    assert(o1.sorted == (1L to 500L), "shuffle must be a permutation")
    // grouping actually broken: the sorted input must not come back sorted
    assert(o1 != (1L to 500L), "permutation must not be the identity")
    // same seed, different input partitioning → identical order
    assert(order(df.repartition(13), 42L) == o1,
      "order must be a pure function of (ids, seed)")
    // different seed → different permutation
    assert(order(df, 7L) != o1, "seed must change the permutation")
    // plan: exactly one range-partitioned exchange, no extra sort pass
    val q = Sampling.globalShuffle(df, "id", 42L, numPartitions = 7)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"expected a range exchange:\n$plan")
  }

  test("curriculumOrder: tiers strictly ordered, in-tier shuffle deterministic, nulls lowest") {
    val rows = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf((i % 100) / 100.0)))
    val df = rows.toDF("id", "score")
    def order(d: org.apache.spark.sql.DataFrame, desc: Boolean = false) =
      Sampling.curriculumOrder(d, "id", "score", Seq(0.3, 0.7),
        seed = 42L, descending = desc, numPartitions = 5)
        .select("id").collect().map(_.getLong(0)).toSeq
    val o = order(df)
    // permutation of everything
    assert(o.sorted == (1L to 300L))
    def tierOf(id: Long): Int = {
      val s = rows(id.toInt - 1)._2
      if (s == null) 0 else if (s >= 0.7) 2 else if (s >= 0.3) 1 else 0
    }
    // ascending tiers: the tier sequence never decreases (nulls in tier 0)
    val tiers = o.map(tierOf)
    assert(tiers == tiers.sorted, "ascending curriculum: low tiers first")
    // within a tier the order is shuffled (not id-sorted) but deterministic
    val t1 = o.filter(id => tierOf(id) == 1)
    assert(t1 != t1.sorted, "in-tier order must be shuffled")
    assert(order(df.repartition(13)) == o, "order is a pure function of (scores, ids, seed)")
    // descending flips the tier sequence
    val od = order(df, desc = true).map(tierOf)
    assert(od == od.sorted.reverse, "descending curriculum: best tier first")
  }

  test("samplePerKey: exact n per key, deterministic, partition-independent, seed-sensitive, roughly uniform") {
    val df = (0L until 3000L).map(i => (i, s"k${i % 3}")).toDF("id", "key")
    val s1 = Sampling.samplePerKey(df, "key", "id", n = 100, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byKey = s1.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byKey == Map("k0" -> 100, "k1" -> 100, "k2" -> 100), byKey.toString)

    val s2 = Sampling.samplePerKey(df.repartition(17), "key", "id", 100, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq,
      "the draw is a pure function of (ids, seed)")

    val s3 = Sampling.samplePerKey(df, "key", "id", 100, seed = 8L)
      .collect().map(_.getLong(0)).toSet
    assert(s3 != s1.map(_._1).toSet, "a different seed draws a different sample")

    // uniformity smoke: sampled-id mean near the population mean
    val mean = s1.map(_._1).sum.toDouble / s1.length
    assert(math.abs(mean - 1499.5) < 150, s"uniform draw mean: $mean")

    // a key with fewer than n rows keeps everything
    val small = Sampling.samplePerKey(
      df.where(col("key") === "k0").limit(40), "key", "id", 100)
    assert(small.count() == 40)
  }
  test("r16: weightedMixShuffled spreads an up-weighted doc's replicas apart; plain mix documented caveat") {
    import spark.implicits._
    val a = (0 until 200).map(i => (i.toLong, s"doc-$i")).toDF("id", "text")
    val mixed = Sampling.weightedMixShuffled(Seq((a, 3.0)), "id", seed = 7L)
    val rows = mixed.collect().map(_.getLong(0))
    assert(rows.length == 600)
    // adjacency check: the 3 copies of an id must NOT sit back-to-back
    val adjacentDupes = rows.sliding(2).count(w => w(0) == w(1))
    assert(adjacentDupes < 10, s"replicas clustered: $adjacentDupes adjacent duplicate pairs")
    // deterministic across runs and partitionings
    val again = Sampling.weightedMixShuffled(Seq((a.repartition(5), 3.0)), "id", seed = 7L)
    assert(again.collect().map(_.getLong(0)).toSeq == rows.toSeq)
  }

  test("r16: capPerKey membership is stable under orderCol ties across partitionings") {
    import spark.implicits._
    val rows = (0 until 500).map(i => (s"d${i % 3}", i.toLong, 1.0)).toDF("domain", "id", "score")
    val a = Sampling.capPerKey(rows, "domain", 20, "score")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.capPerKey(rows.repartition(13), "domain", 20, "score")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "tied-score cap membership must not depend on partitioning")
    assert(a.length == 60)
    // frames with unhashable (map) columns still cap — the tie-break
    // silently narrows to hashable columns instead of failing analysis
    val withMap = rows.withColumn("meta", map(lit("k"), lit("v")))
    assert(Sampling.capPerKey(withMap, "domain", 20, "score").count() == 60)
  }

  test("L68 budgetSample: per-key weight quotas, crossing doc included, absent keys drop") {
    val docs = (0L until 300L).map { i =>
      (i, s"s${i % 3}", 10L + (i % 7), s"payload-$i")
    }.toDF("id", "src", "w", "text")
    val budgets = Map("s0" -> 200L, "s1" -> 1L)
    val kept = Sampling.budgetSample(docs, "src", "id", "w", budgets)
    val bySrc = kept.groupBy("src")
      .agg(count(lit(1)).as("n"), sum("w").as("tot"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // s2 has no budget: dropped entirely
    assert(!bySrc.contains("s2"), bySrc.toString)
    // totals land in [budget, budget + maxDocWeight): the crossing doc
    // is included, so a filled quota is never undershot
    val (n0, t0) = bySrc("s0")
    assert(t0 >= 200L && t0 < 200L + 17L, s"s0 total $t0 outside [200, 217)")
    assert(n0 < 100, "the budget must genuinely subset s0")
    // budget 1 keeps EXACTLY the hash-first doc (before = 0 < 1; the
    // next doc's before >= 10)
    assert(bySrc("s1")._1 == 1L, s"budget 1 must keep exactly one doc: ${bySrc("s1")}")
    // full rows survive the semi join
    assert(kept.columns.toSeq == Seq("id", "src", "w", "text"))
    // membership is deterministic and partitioning-independent
    val again = Sampling.budgetSample(docs.repartition(13), "src", "id", "w", budgets)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == kept.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // huge ids: the overflow-safe rank must not throw under ANSI mode
    val bigIds = Seq((5000000000L, "s0", 10L, "x")).toDF("id", "src", "w", "text")
    assert(Sampling.budgetSample(bigIds, "src", "id", "w", Map("s0" -> 100L)).count() == 1)
    // plan shape: the window's sort runs over the (id, key, weight)
    // PROJECTION — the wide text column must never enter that subtree
    // (at 100 TB the cumsum shuffle carries ~24 bytes/row, not docs)
    val plan = kept.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, s"expected a Window node:\n$plan")
    windows.foreach { w =>
      val inputCols = w.child.output.map(_.name)
      assert(!inputCols.contains("text"),
        s"the window subtree must not carry the text column: $inputCols")
      // r20c: the budget attaches AFTER the window (semi-join filters
      // before it) — an early inner join once put the budget column on
      // every row crossing the cumsum shuffle
      assert(!inputCols.contains("_bs_budget"),
        s"the window subtree must not carry the budget column: $inputCols")
    }
  }

  test("L69 temperatureSample: alpha-flattened quotas, exact largest-remainder budget, saturation cap") {
    // skewed 400/200/100 corpus; alpha=0.5 flattens toward small keys
    val docs = ((0L until 400L).map(i => (i, "web")) ++
      (400L until 600L).map(i => (i, "books")) ++
      (600L until 700L).map(i => (i, "code"))).toDF("id", "src")
    val kept = Sampling.temperatureSample(docs, "src", "id", 0.5, 200L)
    val bySrc = kept.groupBy("src").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected = the operator's own replayable math, recomputed here:
    // weights sqrt(n_k), sum in key-asc order, (200·w)/S floored,
    // largest remainders bumped — and it must spend EXACTLY the budget
    val ns = Seq("books" -> 200L, "code" -> 100L, "web" -> 400L)
    val s = ns.foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    val raw = ns.map { case (k, n) => (k, n, 200.0 * math.sqrt(n.toDouble) / s) }
    val base = raw.map { case (k, n, r) => (k, n, r, math.floor(r).toLong) }
    val leftover = (200L - base.map(_._4).sum).toInt
    val expect = base.sortBy { case (k, _, r, b) => (-(r - b), k) }.zipWithIndex
      .map { case ((k, _, _, b), i) => k -> (if (i < leftover) b + 1 else b) }.toMap
    assert(bySrc == expect, s"got $bySrc want $expect")
    assert(bySrc.values.sum == 200L, "largest-remainder must spend the whole budget")
    // alpha=1 is proportional: 400:200:100 on budget 70 -> 40/20/10
    val prop = Sampling.temperatureSample(docs, "src", "id", 1.0, 70L)
      .groupBy("src").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prop == Map("web" -> 40L, "books" -> 20L, "code" -> 10L), prop.toString)
    // saturation: alpha=0.5 with a budget big enough to over-ask the
    // small key — capped at its size, shortfall NOT redistributed
    val sat = Sampling.temperatureSample(docs, "src", "id", 0.5, 650L)
      .groupBy("src").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sat("code") == 100L, s"saturated key keeps its whole data: $sat")
    assert(sat.values.sum < 650L, s"shortfall is not redistributed: $sat")
    // deterministic across partitioning; null keys drop; zero budget empty
    val again = Sampling.temperatureSample(docs.repartition(13), "src", "id", 0.5, 200L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == kept.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    val withNull = docs.withColumn("src", when(col("id") < 10, lit(null: String)).otherwise(col("src")))
    assert(Sampling.temperatureSample(withNull, "src", "id", 0.5, 200L)
      .where(col("src").isNull).count() == 0)
    assert(Sampling.temperatureSample(docs, "src", "id", 0.5, 0L).count() == 0)
  }

  test("L69 temperatureSample: randomized invariants - exact spend, per-key caps, monotone flattening") {
    // randomized configs against the operator's CONTRACT (not its
    // internals): with no saturation the budget spends exactly; no key
    // ever exceeds its selectable size; output is a subset of input
    val rnd = new scala.util.Random(7)
    (0 until 6).foreach { trial =>
      val keys = (0 until 2 + rnd.nextInt(4)).map(k => s"k$k" -> (5 + rnd.nextInt(200)))
      val rows = keys.flatMap { case (k, n) => (0 until n).map(i => (s"$k-$i", k)) }
      val docs = rnd.shuffle(rows).toDF("id", "src")
      val sizes = keys.toMap
      val alpha = Seq(0.3, 0.5, 0.7, 1.0)(rnd.nextInt(4))
      // a budget under every key's size avoids saturation: exact spend
      val budget = 1 + rnd.nextInt(keys.map(_._2).min * keys.size / 2)
      val kept = Sampling.temperatureSample(docs, "src", "id", alpha, budget.toLong)
      val byKey = kept.groupBy("src").agg(count(lit(1))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byKey.values.sum == budget.toLong,
        s"trial $trial: unsaturated budget must spend exactly: $byKey vs $budget (alpha=$alpha, sizes=$sizes)")
      byKey.foreach { case (k, c) =>
        assert(c <= sizes(k), s"trial $trial: key $k over its size: $c > ${sizes(k)}")
      }
      assert(kept.count() == budget.toLong)
    }
    // temperature monotonicity: at fixed sizes, LOWER alpha gives the
    // smallest key at least its alpha=1 share (flattening direction)
    val skew = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small"))).toDF("id", "src")
    def smallShare(a: Double): Long =
      Sampling.temperatureSample(skew, "src", "id", a, 100L)
        .where(col("src") === "small").count()
    val (s1, s05, s03) = (smallShare(1.0), smallShare(0.5), smallShare(0.3))
    assert(s1 <= s05 && s05 <= s03,
      s"lower alpha must flatten toward the small source: a=1 -> $s1, a=0.5 -> $s05, a=0.3 -> $s03")
  }

  test("L69 temperatureSample r20: broadcast-joined targets, no K-wide map literal, 20k keys complete") {
    // judge item 1 (r19): the per-key target used to ride a K-entry
    // foldable map literal probed with element_at — O(K) linear scan
    // per ROW and a 2K-literal serialized plan at the guard bound. The
    // target must now be a BROADCAST hash join against a (key, target)
    // frame: O(1) per row, plan size independent of K.
    val docs = ((0L until 400L).map(i => (i, "web")) ++
      (400L until 600L).map(i => (i, "books")) ++
      (600L until 700L).map(i => (i, "code"))).toDF("id", "src")
    val kept = Sampling.temperatureSample(docs, "src", "id", 0.5, 200L)
    kept.collect() // force planning through execution
    // string match: AdaptiveSparkPlanExec does not expose its query
    // stages to collect(), but the final plan string carries the node
    val exec = kept.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"expected a broadcast hash join for the targets frame:\n$exec")
    // no CreateMap anywhere near the key cardinality (the old plan
    // carried one with 2K children)
    val mapWidths = kept.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case m: org.apache.spark.sql.catalyst.expressions.CreateMap => m.children.size
      })
    }.flatten
    assert(mapWidths.forall(_ <= 16), s"K-wide map literal back in the plan: $mapWidths")
    // the guard bound is now actually sustainable: 20k distinct keys
    // (2 docs each) apportion and select without plan blow-up
    val manyKeys = (0L until 40000L).map(i => (i, s"k${i % 20000}")).toDF("id", "src")
    val wide = Sampling.temperatureSample(manyKeys, "src", "id", 1.0, 20000L)
    assert(wide.count() == 20000L)
    // epoch twin takes the same broadcast path
    val em = Sampling.temperatureEpochMix(docs, "src", "id", 0.5, 200L)
    em.collect()
    assert(em.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "epoch mix must broadcast its params frame")
  }

  test("L69b temperatureEpochMix: saturated keys replicate, exact budget, epoch structure") {
    // web 400 docs, rare 5 docs; alpha=0.5, budget 100: rare's sqrt
    // quota (~10) exceeds its size -> replication, web subsets
    val docs = ((0L until 400L).map(i => (i, "web", 3L)) ++
      (1000L until 1005L).map(i => (i, "rare", 7L))).toDF("id", "src", "n_chars")
    val out = Sampling.temperatureEpochMix(docs, "src", "id", 0.5, 100L).cache()
    // recompute the operator's replayable math independently
    val ns = Seq("rare" -> 5L, "web" -> 400L)
    val s = ns.foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    val raw = ns.map { case (k, n) => (k, n, 100.0 * math.sqrt(n.toDouble) / s) }
    val base = raw.map { case (k, n, r) => (k, n, r, math.floor(r).toLong) }
    val leftover = (100L - base.map(_._4).sum).toInt
    val tgt = base.sortBy { case (k, _, r, b) => (-(r - b), k) }.zipWithIndex
      .map { case ((k, _, _, b), i) => k -> (if (i < leftover) b + 1 else b) }.toMap
    assert(tgt("rare") > 5L, s"fixture must saturate the rare key: $tgt")
    val byKey = out.groupBy("src").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKey == tgt, s"each key lands exactly its UNCAPPED quota: $byKey vs $tgt")
    assert(out.count() == 100L, "epoch mix spends the whole budget even under saturation")
    // replication structure: every rare doc appears floor(q/n) or
    // floor(q/n)+1 times, epochs are 1..copies per doc
    val rareQ = tgt("rare")
    val perDoc = out.where(col("src") === "rare").groupBy("id")
      .agg(count(lit(1)).as("c"), min("epoch").as("lo"), max("epoch").as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(perDoc.length == 5, "all rare docs participate")
    perDoc.foreach { case (id, c, lo, hi) =>
      assert(c == rareQ / 5 || c == rareQ / 5 + 1, s"doc $id copies $c")
      assert(lo == 1L && hi == c, s"doc $id epochs must be 1..$c, got $lo..$hi")
    }
    assert(perDoc.map(_._2).sum == rareQ)
    // no saturation -> agrees with temperatureSample (epoch all 1)
    val sel = Sampling.temperatureSample(docs, "src", "id", 0.5, 50L)
    val em = Sampling.temperatureEpochMix(docs, "src", "id", 0.5, 50L)
    assert(em.agg(max("epoch")).head.getLong(0) == 1L)
    assert(em.select("id").except(sel.select("id")).count() == 0)
    assert(sel.select("id").except(em.select("id")).count() == 0)
    // schema: input columns + epoch; determinism across partitioning
    assert(em.columns.toSeq == Seq("id", "src", "n_chars", "epoch"))
    val again = Sampling.temperatureEpochMix(docs.repartition(13), "src", "id", 0.5, 100L)
    assert(again.select("id", "epoch").except(out.select("id", "epoch")).count() == 0 &&
      out.select("id", "epoch").except(again.select("id", "epoch")).count() == 0)
    // zero budget / zero rows keep the schema contract — INCLUDING the
    // epoch type (review finding r20: lit(1) typed the empty path's
    // epoch as int while the explode path emits bigint, so unioning a
    // zero-budget source with its siblings failed analysis)
    val empty = Sampling.temperatureEpochMix(docs, "src", "id", 0.5, 0L)
    assert(empty.count() == 0)
    assert(empty.schema("epoch").dataType == org.apache.spark.sql.types.LongType)
    assert(empty.unionByName(out).count() == 100L, "empty path must union with the explode path")
  }

  test("null ids never consume quota; exotic id types rank deterministically") {
    // review findings r19: a null rank sorts FIRST in the selection
    // window — null-id rows used to eat the head of a key's quota and
    // then vanish at the id-equality rejoin (target-m docs returned,
    // silently); and temperatureSample's per-key counts must count
    // SELECTABLE rows only, or a null-heavy key steals budget it can
    // never fill.
    val docs = ((0L until 50L).map(i => (java.lang.Long.valueOf(i), "a")) ++
      (0L until 50L).map(_ => (null.asInstanceOf[java.lang.Long], "a")) ++
      (50L until 100L).map(i => (java.lang.Long.valueOf(i), "b")))
      .toDF("id", "src")
    // budgetSample: key a's budget of 30 units (weight 1/doc) must
    // return 30 REAL docs, not 30-minus-nulls
    val bs = Sampling.budgetSample(docs.withColumn("w", lit(1L)), "src", "id", "w",
      Map("a" -> 30L))
    assert(bs.count() == 30 && bs.where(col("id").isNull).count() == 0, bs.count().toString)
    // temperatureSample at alpha=1, budget 50: selectable sizes are
    // 50/50 -> 25 docs each; counting a's nulls would have skewed the
    // apportionment 2:1 and returned only ~8 docs short for a
    val ts = Sampling.temperatureSample(docs, "src", "id", 1.0, 50L)
    val byKey = ts.groupBy("src").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKey == Map("a" -> 25L, "b" -> 25L), byKey.toString)
    // date ids: the r18 signature accepted any type — the md5 branch
    // must not break analysis for uncastable-to-binary ids (xxhash64
    // fallback, deterministic but non-replayable by contract)
    val dated = (1 to 60).map(i => (java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"), s"s${i % 2}", i))
      .toDF("id", "src", "n").withColumn("w", lit(1L))
      .dropDuplicates("id", "src")
    assert(Sampling.budgetSample(dated, "src", "id", "w", Map("s0" -> 5L)).count() == 5)
    assert(Sampling.temperatureSample(dated, "src", "id", 1.0, 10L).count() == 10)
    // binary ids take the replayable md5 arm (md5 accepts them as-is)
    val bin = (0 until 40).map(i => (Array(i.toByte, 7.toByte), "k"))
      .toDF("id", "src").withColumn("w", lit(1L))
    assert(Sampling.budgetSample(bin, "src", "id", "w", Map("k" -> 10L)).count() == 10)
  }

  test("L68 budgetSample: string ids rank by md5 hex - oracle-replayable order") {
    val docs = (0L until 90L).map { i =>
      (s"doc-$i", s"s${i % 3}", 10L, s"payload-$i")
    }.toDF("id", "src", "w", "text")
    val kept = Sampling.budgetSample(docs, "src", "id", "w",
      Map("s0" -> 95L, "s1" -> 1L))
    // budget 1 keeps exactly the md5-first id of s1 — the SAME pick any
    // engine makes from the lowercase-hex digest (what makes a
    // string-keyed gate hash-matchable, unlike the old xxhash64 rank)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectS1 = (0L until 90L).filter(_ % 3 == 1).map(i => s"doc-$i").minBy(md5hex)
    val s1 = kept.where(col("src") === "s1").select("id").collect().map(_.getString(0))
    assert(s1.toSeq == Seq(expectS1), s"got ${s1.toSeq}, want $expectS1")
    // quota bound holds for the string-keyed path too: 95 < total <= 105
    val t0 = kept.where(col("src") === "s0").agg(sum("w")).head().getLong(0)
    assert(t0 == 100L, s"s0 total $t0 - 10 docs of weight 10, crossing doc included")
    // deterministic across partitionings
    val again = Sampling.budgetSample(docs.repartition(7), "src", "id", "w",
      Map("s0" -> 95L, "s1" -> 1L)).select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(again == kept.select("id").collect().map(_.getString(0)).sorted.toSeq)
  }
}
