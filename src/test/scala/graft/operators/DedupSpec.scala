package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** L1–L5: dedup family on crafted near-duplicate corpora. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private val nearDup = base.replace("lazy", "sleepy") // 1-word edit
  private val other = "completely different content about databases and distributed systems at scale"

  private def docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, other), (5L, "")
  ).toDF("doc_id", "text")

  test("L1 exact dedup keeps the smallest id per identical text") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L)) // doc 2 (copy of 1) dropped
    assert(Dedup.exactGroups(docs, "text", "doc_id").select("keeper_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("L1b minority-shuffle plan: unique majority avoids the window shuffle; fallback identical") {
    // plan shape: the anti-join (unique-majority) branch joins against a
    // BROADCAST of the dup-fp set — its rows reach the union without any
    // hash-partitioned exchange; only the dup branch has the window
    val out = Dedup.exact(docs, "text", "doc_id")
    out.collect() // finalize adaptive plan
    val full = out.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==").head // adaptive dump repeats the tree
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"dup-fp set must broadcast:\n$plan")
    assert("LeftAnti".r.findAllIn(plan).size >= 1, s"unique majority must pass via anti join:\n$plan")
    assert("Window \\[".r.findAllIn(plan).size == 1, s"exactly one window (dup minority only):\n$plan")
    // behavior parity with the classic full-shuffle plan
    val classic = Dedup.exactWindow(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val minority = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(classic == minority && minority == Seq(1L, 3L, 4L, 5L))
  }

  test("shared DupProbe: probe-fed exact + minhash equal their self-probing twins (r21)") {
    // a corpus with exact copies AND a near-dup so every branch is live
    val corpus = Seq(
      (1L, base), (2L, base), (7L, base),      // 3-copy group, rep 1
      (3L, nearDup), (4L, other), (8L, other), // 2-copy group, rep 4
      (5L, "")
    ).toDF("doc_id", "text")
    val probe = Dedup.dupProbe(corpus, "text", "doc_id")
    assert(probe.totalRows == 7L && probe.nGroups == 2L && probe.dupRows == 3L, probe.toString)
    assert(probe.dupGroups.collect().map(_.getLong(2)).sorted.toSeq == Seq(1L, 4L))
    val plain = Dedup.exact(corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val fed = Dedup.exactFromProbe(corpus, "text", "doc_id", probe)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(plain == fed, s"probe-fed exact must keep the identical set: $plain vs $fed")
    def pairsOf(p: Option[Dedup.DupProbe]) =
      Dedup.minhashNearDups(corpus, "text", "doc_id", threshold = 0.5, precomputed = p)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsOf(None) == pairsOf(Some(probe)),
      "probe-fed minhash candidates must verify to the identical pair set")
    // heavy-duplication regime (PreGroup: dupRows*20 >= totalRows) —
    // the probe-fed representative derivation must agree there too
    val mass = (0L until 60L).map(i => (i, if (i % 20 == 0) other else base)).toDF("doc_id", "text")
    val massProbe = Dedup.dupProbe(mass, "text", "doc_id")
    assert(Dedup.DupPlan.choose(massProbe.dupRows, massProbe.nGroups, massProbe.totalRows)
      == Dedup.DupPlan.PreGroup)
    def massPairs(p: Option[Dedup.DupProbe]) =
      Dedup.minhashNearDups(mass, "text", "doc_id", threshold = 0.5, precomputed = p)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(massPairs(None) == massPairs(Some(massProbe)),
      "PreGroup regime: probe-fed pairs must match the self-probing plan")
  }

  test("L16 decontamination removes docs sharing benchmark n-grams, keeps the rest") {
    val bench = Seq(
      (1L, "what is the capital of france and when was it founded exactly"),
      (2L, "solve the integral of x squared dx over the unit interval")
    ).toDF("qid", "question")
    val corpus = Seq(
      // verbatim leak of benchmark question 1
      (10L, "trivia dump: what is the capital of france and when was it founded exactly answer paris"),
      // partial 5-gram overlap with question 2
      (11L, "calculus homework help solve the integral of x squared dx step by step"),
      // clean documents
      (12L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (13L, "completely different content about databases and distributed systems at scale")
    ).toDF("doc_id", "text")

    val bad = Decontaminate.contaminatedIds(corpus, "text", "doc_id", bench, "question",
      shingleSize = 5, minOverlap = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(bad == Set(10L, 11L), s"contaminated set wrong: $bad")

    val kept = Decontaminate.clean(corpus, "text", "doc_id", bench, "question",
      shingleSize = 5, minOverlap = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))

    // a stricter overlap threshold spares the partial-overlap doc
    val strict = Decontaminate.contaminatedIds(corpus, "text", "doc_id", bench, "question",
      shingleSize = 5, minOverlap = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(strict == Set(10L), s"minOverlap must gate partial leaks: $strict")

    // the corpus is never shuffled: benchmark set and contaminated ids broadcast
    val plan = Decontaminate.clean(corpus, "text", "doc_id", bench, "question").queryExecution
      .executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Broadcast"), s"decontamination must broadcast the small sides:\n$plan")
  }

  test("L16c contamination report: per-suite counts/shares, zero-leak suites emit a zero row") {
    val suiteA = Seq((1L, "what is the capital of france and when was it founded exactly"))
      .toDF("qid", "question")
    val suiteB = Seq((1L, "material appearing in no training document whatsoever here today"))
      .toDF("qid", "question")
    val corpus = Seq(
      (10L, "trivia dump: what is the capital of france and when was it founded exactly answer paris"),
      (12L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (13L, "completely different content about databases and distributed systems at scale"),
      (14L, "a fourth document to make the share a round fraction of four")
    ).toDF("doc_id", "text")
    val report = Decontaminate.contaminationReport(corpus, "text", "doc_id",
      Seq(("qa", suiteA, "question"), ("unleaked", suiteB, "question")),
      shingleSize = 5, minOverlap = 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    // doc 10 shares 8 distinct 5-grams with suite A's question
    // (11 question tokens -> 7 question shingles, plus the verbatim
    // span inside doc 10 contributing its own longer run): assert the
    // structural facts, not the exact shingle arithmetic
    val (docs_a, share_a, leaked_a, max_a) = report("qa")
    assert(docs_a == 1L && share_a == 0.25, s"one of four docs leaks suite A: $report")
    assert(leaked_a >= 7L && max_a == leaked_a, "single doc: total == max")
    assert(report("unleaked") == ((0L, 0.0, 0L, 0L)), s"zero-leak suite must report zeros: $report")
  }

  test("L16c report single-pass rewrite: identical to per-suite contaminatedIds on real data") {
    // r20 differential pin: the suite-tagged single corpus pass must
    // reproduce the per-suite contaminatedIds aggregates exactly
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val suites = Seq(
      ("a", corpus.where(col("doc_id") % 40 === 0).select(col("text").as("q")), "q"),
      ("b", corpus.where(col("doc_id") % 37 === 0).select(col("text").as("q")), "q"))
    val got = Decontaminate.contaminationReport(corpus, "text", "doc_id", suites,
        shingleSize = 5, minOverlap = 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    val total = corpus.count()
    suites.foreach { case (name, bench, qc) =>
      val per = Decontaminate.contaminatedIds(corpus, "text", "doc_id", bench, qc,
        shingleSize = 5, minOverlap = 1).collect().map(_.getLong(1))
      val want = (per.length.toLong,
        BigDecimal(per.length.toDouble / total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        per.sum, if (per.isEmpty) 0L else per.max)
      assert(got(name) == want, s"suite $name: got ${got(name)} want $want")
    }
  }

  test("L16c report rejects duplicate suite names, naming the duplicate") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val suite = Seq("the quick brown fox jumps over the lazy dog").toDF("question")
    val e = intercept[IllegalArgumentException] {
      Decontaminate.contaminationReport(corpus, "text", "doc_id",
        Seq(("qa", suite, "question"), ("other", suite, "question"), ("qa", suite, "question")),
        shingleSize = 5)
    }
    assert(e.getMessage.contains("duplicated: qa"), e.getMessage)
  }

  test("L16b bloom decontamination: identical result to the exact path on real data") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = corpus.where(col("doc_id") % 40 === 0).select(col("text").as("q"))
    val exact = Decontaminate.contaminatedIds(corpus, "text", "doc_id", bench, "q",
        shingleSize = 5, minOverlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = Decontaminate.contaminatedIdsBloom(corpus, "text", "doc_id", bench, "q",
        shingleSize = 5, minOverlap = 1, fpp = 0.03)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact verify join kills every Bloom false positive: same ids
    // AND same overlap counts
    assert(bloom == exact, s"bloom result must equal exact: " +
      s"only-bloom=${bloom -- exact} only-exact=${exact -- bloom}")
    assert(exact.nonEmpty)
  }

  test("L16b bloom probe prunes before the exact join; expression stays in codegen") {
    import graft.expr.{BloomMightContain, GraftFunctions}
    GraftFunctions.ensure(spark)
    val inserted = (0L until 1000L).map(_ * 2654435761L)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    inserted.foreach(bf.putLong)
    val bytes = BloomMightContain.serialize(bf)
    // spark.range, not a local Seq: ConvertToLocalRelation would fold
    // the probe at optimization time and leave no codegen stage to pin
    val probe = spark.range(0, 100000).select(col("id").as("h"))
      .where(GraftFunctions.bloomMightContain(col("h"), bytes))
    // no false negatives on a disjoint-domain superset…
    val hits = probe.as[Long].collect().toSet
    val trueMembers = inserted.filter(_ < 100000L).toSet
    assert(trueMembers.subsetOf(hits), "bloom filters never drop a member")
    // …and the pass-through is fpp-sized, not corpus-sized
    assert(hits.size < 5000, s"1% fpp over 100k probes should pass ~1k+members, got ${hits.size}")
    // native expression participates in whole-stage codegen
    val codegen = probe.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegen.nonEmpty, probe.queryExecution.executedPlan.toString)
  }

  test("L2 minhash-LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), s"near-dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc matched: $pairs")
  }

  test("L2 end-to-end near-dedup thresholds on verified jaccard") {
    val nd = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nd == Set((1L, 2L))) // only the exact copy survives 0.99
  }

  test("L3 simhash: identical text -> distance 0; near-dup close; unrelated far") {
    val hashes = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    assert(ham(1, 2) == 0)
    assert(ham(1, 3) < ham(1, 4), s"near ${ham(1, 3)} !< far ${ham(1, 4)}")
    val cand = Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
  }

  test("L4 exact jaccard verification values") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val verified = NgramJaccard.verifyPairs(pairs, docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified((1L, 2L)) == 1.0)   // identical docs
    assert(verified((1L, 4L)) == 0.0)   // disjoint vocabulary
  }

  test("L4b blocked candidates: shared rare shingle pairs, df cap excludes hot shingles") {
    // base/base/nearDup share rare 4-gram shingles -> pairs among {1,2,3};
    // doc 4 shares no shingle with anyone; doc 5 has none at all
    val cand = NgramJaccard.blockedCandidates(docs, "text", "doc_id",
        shingleSize = 4, maxDf = 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $cand")
    // df cap: a shingle present in every doc of a 30-doc corpus is
    // hotter than maxDf=20 -> no candidates at all (bounded fan-out on
    // boilerplate corpora), while maxDf=40 admits it
    val boiler = (1L to 30L).map(i => (i, s"shared boilerplate prefix words here unique$i"))
      .toDF("doc_id", "text")
    assert(NgramJaccard.blockedCandidates(boiler, "text", "doc_id", 4, maxDf = 20).count() == 0)
    assert(NgramJaccard.blockedCandidates(boiler, "text", "doc_id", 4, maxDf = 40).count() == 30L * 29 / 2)
  }

  test("L4c blocked candidates: ultra-hot shingle is dropped as a count, never a posting list") {
    // Every doc carries the same boilerplate shingle; each consecutive pair
    // additionally shares one rare shingle. The two-pass shape must discard
    // the hot shingle in the df-count pass — BEFORE any collect_set — so no
    // aggregation group ever holds more than maxDf ids.
    val n = 50
    val hot = "common boilerplate header line"
    val corpus = (1L to n.toLong).map { i =>
      // rare bridge shingle between doc i and doc i+1
      (i, s"$hot bridge$i link$i join$i mark$i bridge${i - 1} link${i - 1} join${i - 1} mark${i - 1}")
    }.toDF("doc_id", "text")
    val pairs = NgramJaccard.shinglePairs(corpus, "text", "doc_id", 4)
    val rare = NgramJaccard.rareShingles(pairs, maxDf = 5)
      .as[String].collect().toSet
    // pass 1 output: the hot shingle (df = n > maxDf) is already gone, so the
    // collect_set in pass 2 can only ever see groups of size <= maxDf
    assert(!rare.exists(_.contains("boilerplate")), s"hot shingle survived pass 1: $rare")
    assert(rare.nonEmpty, "bridge shingles should be rare")
    // end-to-end: consecutive docs still pair up through their rare bridges
    val cand = NgramJaccard.blockedCandidates(corpus, "text", "doc_id", 4, maxDf = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((1L until n.toLong).forall(i => cand.contains((i, i + 1))),
      s"missing consecutive planted pairs in $cand")
  }

  test("planted token-dropout near-dups: full recall at the production 0.8 threshold") {
    // the corpus the driver gates run on: withPlantedTextNearDups
    // copies every 10th doc to id+1000000 with ~2% token dropout
    // (true 4-shingle jaccard ≈ 0.87). Distinct per-doc vocabulary
    // makes the planted pairs the ONLY near-dups, so recall is exact.
    val corpus = (1L to 30L).map { d =>
      (d, (0 until 120).map(i => s"w${d}x${(i * 7919 + d * 104729) % 997}n$i").mkString(" "))
    }.toDF("doc_id", "text")
    val planted = graft.SparkEntry.withPlantedTextNearDups(corpus, "text", "doc_id")
    assert(planted.count() == 33) // 30 base + ids 10,20,30 copied
    val expected = Set((10L, 1000010L), (20L, 1000020L), (30L, 1000030L))
    // minhash path at the production threshold
    val mh = Dedup.minhashNearDups(planted, "text", "doc_id", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.subsetOf(mh), s"minhash missed planted pairs: $mh")
    // exact-jaccard path over blocked candidates, same threshold
    val cand = NgramJaccard.blockedCandidates(planted, "text", "doc_id", 4, maxDf = 20)
    val jac = NgramJaccard.verifyPairs(cand, planted, "text", "doc_id", 4)
      .where(col("jaccard") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.subsetOf(jac), s"jaccard missed planted pairs: $jac")
    // simhash: the dropout moves only a few of the 64 bits
    val sim = Dedup.simhashCandidates(planted, "text", "doc_id", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.subsetOf(sim), s"simhash missed planted pairs: $sim")
  }

  test("near decontamination catches paraphrases the exact n-gram tier misses") {
    // paraphrase = every 8th token replaced: every 8-token window
    // contains an edit, so exact 8-gram overlap is ZERO; 3-shingle
    // jaccard stays ~0.46, well inside the near tier
    val corpus = (1L to 30L).map { d =>
      (d, (0 until 120).map(i => s"w${d}v${(i * 7919 + d * 104729) % 997}n$i").mkString(" "))
    }.toDF("doc_id", "text")
    val sources = Set(5L, 10L, 15L)
    val bench = corpus.where(col("doc_id").isin(sources.toSeq: _*))
      .select(array_join(transform(split(col("text"), " "),
        (t, i) => when((i + col("doc_id")) % 8 === 0, concat(lit("rw"), i)).otherwise(t)),
        " ").as("text"))
    // exact tier: nothing shared at the default 8-gram size
    assert(Decontaminate.contaminatedIds(corpus, "text", "doc_id", bench, "text").count() == 0,
      "paraphrases must slip the exact n-gram tier (that is the point)")
    // near tier: exactly the paraphrase sources, nothing else
    val near = Decontaminate.nearContaminatedIds(corpus, "text", "doc_id", bench, "text",
        threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(near == sources, s"near tier should flag exactly the sources: $near")
    // and cleanNear removes exactly those
    val kept = Decontaminate.cleanNear(corpus, "text", "doc_id", bench, "text", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (1L to 30L).toSet -- sources)
    // persisted-index path: same verdicts with the corpus text never re-read
    val p = tmpDir("near_idx_")
    MinHashIndex.writeIndex(corpus, "text", "doc_id", p)
    val viaIdx = Decontaminate.nearContaminatedIds(corpus, "text", "doc_id", bench, "text",
        threshold = 0.3, index = Some(spark.read.parquet(p)))
      .select("doc_id").as[Long].collect().toSet
    assert(viaIdx == sources, s"persisted-index path must agree: $viaIdx")
  }

  test("verified near decontamination decides on TRUE jaccard — equals brute-force set arithmetic (r17)") {
    val corpus = (1L to 30L).map { d =>
      (d, (0 until 120).map(i => s"w${d}v${(i * 7919 + d * 104729) % 997}n$i").mkString(" "))
    }.toDF("doc_id", "text")
    val sources = Set(5L, 10L, 15L)
    val bench = corpus.where(col("doc_id").isin(sources.toSeq: _*))
      .select(array_join(transform(split(col("text"), " "),
        (t, i) => when((i + col("doc_id")) % 8 === 0, concat(lit("rw"), i)).otherwise(t)),
        " ").as("text"))
    val got = Decontaminate.nearContaminatedIdsVerified(corpus, "text", "doc_id",
        bench, "text", threshold = 0.3)
      .as[(Long, Double)].collect().toMap
    // ground truth by brute force: distinct 3-shingle sets, true
    // jaccard per (doc, bench) pair, max per doc, round-half-up 6
    def shingles(toks: Seq[String]): Set[String] =
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val texts = (1L to 30L).map(d =>
      d -> (0 until 120).map(i => s"w${d}v${(i * 7919 + d * 104729) % 997}n$i")).toMap
    val benchSets = sources.toSeq.map(d => shingles(
      texts(d).zipWithIndex.map { case (t, i) => if ((i + d) % 8 == 0) s"rw$i" else t }))
    val truth = texts.flatMap { case (d, toks) =>
      val s1 = shingles(toks)
      val best = benchSets.map { s2 =>
        val inter = (s1 & s2).size
        if (s1.isEmpty || s2.isEmpty) 0.0
        else inter.toDouble / (s1.size + s2.size - inter)
      }.max
      val r = BigDecimal(best).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (r >= 0.3) Some(d -> r) else None
    }
    assert(got == truth,
      s"verified tier must equal brute-force truth: got=$got truth=$truth")
    // the decision is exact — est-jaccard noise cannot flip a verdict:
    // the values are plain rational arithmetic over the two texts
    assert(got.keySet == sources, s"exactly the paraphrase sources: ${got.keySet}")
  }

  test("semantic decontamination flags exact and perturbed embedding leaks only") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    def randVec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val b0 = randVec(); val b1 = randVec()
    val leakNear = b1.map(x => x + 0.02f) // cosine ~0.999 with b1
    val corpus = (Seq((100L, b0), (101L, leakNear)) ++
      (2L to 40L).map(i => (i, randVec()))).toDF("vec_id", "embedding")
    val bench = Seq(Tuple1(b0), Tuple1(b1)).toDF("embedding")
    // literal path: exact copy + near copy, nothing else
    val flagged = Decontaminate.semanticContaminatedIds(
        corpus, "vec_id", "embedding", bench, "embedding", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(flagged == Set(100L, 101L), s"expected the two leaks, got $flagged")
    // join path (bench forced past the literal gate): identical verdicts
    val viaJoin = Decontaminate.semanticContaminatedIds(
        corpus, "vec_id", "embedding", bench, "embedding", threshold = 0.95,
        maxLiteralVectors = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(viaJoin == flagged, s"join path must agree with literal path: $viaJoin")
    // cleanSemantic is the exact complement
    val kept = Decontaminate.cleanSemantic(
        corpus, "vec_id", "embedding", bench, "embedding", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (2L to 40L).toSet)
    // literal path is one row-local scan: no join, no shuffle
    val litDf = Decontaminate.semanticContaminatedIds(
      corpus, "vec_id", "embedding", bench, "embedding", threshold = 0.95)
    litDf.collect()
    val plan = litDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"literal path must be scan-only:\n$plan")
    // empty benchmark is a caller error, not a silent no-op
    intercept[IllegalArgumentException] {
      Decontaminate.semanticContaminatedIds(corpus, "vec_id", "embedding",
        bench.where(lit(false)), "embedding")
    }
  }

  test("L5 embedding near-dup finds planted duplicate vectors only") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val v0 = randVec()
    val v0close = v0.map(x => x + 0.01f) // cosine ~1 with v0
    val rows = Seq((0L, v0), (1L, v0close)) ++ (2L to 40L).map(i => (i, randVec()))
    val pairs = EmbedDedup.nearDupPairs(rows.toDF("vec_id", "embedding"),
        "embedding", "vec_id", threshold = 0.95, bits = 4, tables = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"expected only the planted pair, got $pairs")
  }

  test("bucket cap + dup stars bound pair explosion on degenerate content") {
    val many = (1L to 300L).map(i => (i, "same boilerplate text repeated again and again ok"))
      .toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(many, "text", "doc_id", maxBucket = 50)
    val n = cand.count()
    // bucket pairs capped at C(50,2) + at most g-1 dup star pairs,
    // far below the exhaustive C(300,2)=44850
    assert(n <= 50L * 49 / 2 + 299, s"bucket cap not applied: $n pairs")
    // the stars keep the pair set transitively complete despite the
    // cap: every doc is reachable from the group representative
    val ids = cand.select("id_a").union(cand.select("id_b"))
      .distinct().count()
    assert(ids == 300, s"stars must cover all capped-out members: $ids")
  }

  test("MIH plan: every supported radius keeps >= 2^10 bucket values per block and full pigeonhole coverage") {
    for (h <- 0 to 15) {
      val (m, t) = Dedup.mihPlan(h)
      assert(m * (t + 1) - 1 >= h,
        s"h=$h: plan ($m blocks, radius $t) covers only ${m * (t + 1) - 1}")
      val widths = Dedup.mihWidths(m)
      assert(widths.sum == 64, s"h=$h: widths ${widths.toSeq} must partition 64 bits")
      widths.foreach(w => assert(w >= 10,
        s"h=$h: block width $w < 10 bits — bucket keyspace ${1L << w} would collapse at corpus scale"))
      // probe enumeration: exactly sum_{i=1..t} C(w, i) distinct masks
      // of weight 1..t within the block width
      for (w <- widths.distinct) {
        val masks = Dedup.probeMasks(w, t)
        def choose(n: Int, k: Int): Long =
          (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
        val expected = (1 to t).map(choose(w, _)).sum
        assert(masks.length == expected, s"h=$h w=$w: ${masks.length} masks != $expected")
        assert(masks.distinct.length == masks.length, s"h=$h w=$w: duplicate masks")
        masks.foreach { mk =>
          val bits = java.lang.Long.bitCount(mk)
          assert(bits >= 1 && bits <= t, s"h=$h w=$w: mask weight $bits outside [1, $t]")
          assert((mk >>> w) == 0, s"h=$h w=$w: mask $mk exceeds block width")
        }
      }
    }
  }

  test("MIH exactness: candidate pairs equal the brute-force hamming ball on distinct hashes") {
    // distinct hashes (no identical-hash pre-grouping in play, no cap
    // pressure), so the guarantee is EXACT: output = all pairs within
    // the radius. Mix of one tight cluster (bit-flips of a seed) and
    // a uniform background, exercised across plan regimes:
    // h=3 -> 4 exact blocks, h=7 -> radius 1, h=10 -> radius 2.
    val rnd = new scala.util.Random(7)
    val seedHash = rnd.nextLong()
    val hashes = (
      (0 until 120).map(_ => seedHash ^ (0 until rnd.nextInt(13)).map(_ => 1L << rnd.nextInt(64)).foldLeft(0L)(_ | _)) ++
      (0 until 300).map(_ => rnd.nextLong())
    ).distinct.zipWithIndex.map { case (h, i) => (i.toLong, h) }
    for (maxH <- Seq(3, 7, 10)) {
      val expected = (for {
        i <- hashes.indices; j <- (i + 1) until hashes.length
        if java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2) <= maxH
      } yield (hashes(i)._1, hashes(j)._1)).toSet
      val got = Dedup.hammingCandidates(
          hashes.toDF("doc_id", "sh"), maxH, maxBucket = 100000)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      assert(got.length == got.distinct.length,
        s"h=$maxH: duplicate pair emissions — first-block dedup broken")
      assert(got.toSet == expected,
        s"h=$maxH: got ${got.length} pairs, expected ${expected.size}")
    }
  }

  test("MIH recall at realistic cardinality: >= 0.95 on planted h=8 pairs in a 100k-hash population") {
    // the r14 lesson: 9 narrow blocks at h=8 kept gates green at 5k
    // rows while every bucket would saturate maxBucket at web-image
    // scale. 100k+ distinct hashes with the DEFAULT cap is where that
    // collapse shows; wide MIH blocks must hold recall.
    val n = 100000
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val planted = 500
    val rnd = new scala.util.Random(11)
    // base population + planted partners at exactly 8 flipped bits
    val rows = ((0 until n).map(i => (i.toLong, splitmix(i.toLong))) ++
      (0 until planted).map { p =>
        val base = splitmix(p.toLong * 200)
        var mask = 0L
        while (java.lang.Long.bitCount(mask) < 8) mask |= 1L << rnd.nextInt(64)
        ((n + p).toLong, base ^ mask)
      }).toDF("doc_id", "sh")
    val pairs = Dedup.hammingCandidates(rows, maxHamming = 8, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val hit = (0 until planted).count(p => pairs.contains((p.toLong * 200, (n + p).toLong)))
    assert(hit >= (planted * 0.95).toInt,
      s"recall ${hit.toDouble / planted} < 0.95 at h=8 with default maxBucket")
  }

  test("bounded_min_k equals slice(sort_array(collect_list)) and reports exact dropped counts") {
    graft.expr.GraftFunctions.ensure(spark)
    val rnd = new scala.util.Random(23)
    val rows = (0 until 4000).map(_ => (rnd.nextInt(7), rnd.nextLong(), rnd.nextInt(100)))
      .toDF("g", "a", "b")
    val viaSlice = rows.groupBy("g")
      .agg(slice(sort_array(collect_list(struct(col("a"), col("b")))), 1, 37).as("m"))
      .select(col("g"), col("m"))
    val viaBounded = rows.groupBy("g")
      .agg(graft.expr.GraftFunctions.boundedMinK(struct(col("a"), col("b")), 37).as("mk"))
      .select(col("g"), col("mk.members").as("m"), col("mk.dropped").as("d"))
    val s = viaSlice.collect().map(r => r.getInt(0) -> r.getSeq[Any](1)).toMap
    val counts = rows.groupBy("g").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    viaBounded.collect().foreach { r =>
      val g = r.getInt(0)
      assert(r.getSeq[Any](1) == s(g), s"group $g: member mismatch")
      assert(r.getLong(2) == math.max(0L, counts(g) - 37), s"group $g: dropped count wrong")
    }
    // conditional-collection idiom: null children neither collected nor counted
    val cond = rows.groupBy("g")
      .agg(graft.expr.GraftFunctions.boundedMinK(
        when(col("b") < 50, struct(col("a"))), 10).as("mk"))
      .select(col("g"), size(col("mk.members")).as("n"), col("mk.dropped").as("d"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2))).toMap
    val condCounts = rows.where(col("b") < 50).groupBy("g").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    cond.foreach { case (g, (n, d)) =>
      val seen = condCounts.getOrElse(g, 0L)
      assert(n == math.min(10L, seen) && d == math.max(0L, seen - 10),
        s"group $g: conditional collect n=$n d=$d seen=$seen")
    }
  }

  test("mega-bucket: banding collector state stays O(maxBucket) and truncation is observable") {
    // 50x maxBucket DISTINCT members sharing one band value — the hot
    // bucket (boilerplate shingle band) that the old
    // slice-after-collect_list formulation buffered in full
    val maxBucket = 100
    val banded = (0L until 50L * maxBucket).map(i => (i, 0, 0L))
      .toDF("doc_id", "band", "bh")
    val pairs = Dedup.idPairsFromBuckets(banded, Seq("band", "bh"), maxBucket)
    val got = pairs.collect()
    assert(got.length == maxBucket * (maxBucket - 1) / 2,
      s"expected C($maxBucket,2) capped pairs, got ${got.length}")
    // the capped aggregate must be PARTIAL (map-side) in the plan —
    // that is the memory bound
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("partial_bounded_min_k"),
      s"capped partial aggregate missing from plan:\n$plan")
    assert(!plan.contains("collect_list"), s"unbounded collector still present:\n$plan")
    // awaitStats, not lastStats: the observation resolves on a listener
    // thread after the action returns — an immediate read races it
    // under full-suite load (flaked once in 3 suite runs)
    val stats = BucketTruncation.awaitStats().get
    assert(stats.truncatedBuckets == 1 && stats.droppedMembers == 49L * maxBucket,
      s"truncation must be observable, got $stats")
  }

  test("mega-bucket: MIH collector is capped, observable, and the run survives a degenerate block") {
    // 2000 distinct hashes all sharing block-0 value 0 (near-blank
    // images: low 16 bits zero, high bits vary) with a tight cap
    val rows = (0L until 2000L).map(i => (i, (i + 1) << 32)).toDF("doc_id", "sh")
    val cand = Dedup.hammingCandidates(rows, maxHamming = 2, maxBucket = 20)
    cand.count() // localCheckpoint already ran; force for clarity
    val stats = BucketTruncation.awaitStats().get
    assert(stats.truncatedBuckets >= 1 && stats.droppedMembers > 0,
      s"MIH truncation must be observable, got $stats")
  }
}
