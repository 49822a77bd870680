package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** L35: unigram perplexity scoring — hand-computed model and scores,
  * quality ordering on real text shapes, zero-shuffle scoring plan. */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("fit and scores match the hand-computed model exactly") {
    val ref = Seq("a a b").toDF("text")
    val lm = LmScore.fitUnigram(ref, "text")
    // total=3 tokens, v=2 types, denom=6: p(a)=(2+1)/6, p(b)=(1+1)/6, oov=1/6
    assert(math.abs(lm.logProbs("a") - math.log(3.0 / 6)) < 1e-12)
    assert(math.abs(lm.logProbs("b") - math.log(2.0 / 6)) < 1e-12)
    assert(math.abs(lm.oovLogProb - math.log(1.0 / 6)) < 1e-12)
    val probe = Seq((1L, "a b c"), (2L, "a a a"), (3L, "  ")).toDF("id", "text")
    val got = LmScore.scored(probe, "text", "id", lm).select("id", "perplexity")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val want1 = math.exp(-(math.log(3.0 / 6) + math.log(2.0 / 6) + math.log(1.0 / 6)) / 3)
    val want2 = math.exp(-math.log(3.0 / 6))
    assert(math.abs(got(1L).get - want1) < 1e-9, s"got ${got(1L)} want $want1")
    assert(math.abs(got(2L).get - want2) < 1e-9)
    assert(got(3L).isEmpty, "a tokenless document scores null")
    // the row-local Column form (small models) agrees with the join path
    val colGot = probe.select(col("id"), LmScore.perplexity(col("text"), lm).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(colGot(1L).exists(v => math.abs(v - want1) < 1e-9) && colGot(3L).isEmpty,
      "Column form and broadcast-join form must agree")
  }

  test("fluent in-domain text scores lower perplexity than gibberish") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = LmScore.fitUnigram(real, "text")
    val probe = Seq(
      (1L, "the data pipeline reads the table and joins the results"),
      (2L, "zxqv fplk wrtm ggah bbnc uure qwpz mlkj")).toDF("id", "text")
    val ppl = LmScore.perplexities(probe, "text", "id", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppl(1L) < ppl(2L),
      s"OOV gibberish must score higher perplexity: fluent=${ppl(1L)} gibberish=${ppl(2L)}")
  }

  test("vocabSize caps the model; boundary is deterministic") {
    val ref = Seq("a a a b b c").toDF("text")
    val lm = LmScore.fitUnigram(ref, "text", vocabSize = 2)
    assert(lm.logProbs.keySet == Set("a", "b"), s"top-2 by (count desc, token asc): ${lm.logProbs.keySet}")
  }

  test("small-model Column scoring is one scan, zero shuffle (model as a literal)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = LmScore.fitUnigram(real.limit(50), "text", vocabSize = 512)
    val q = real.select(col("doc_id"), LmScore.perplexity(col("text"), lm).as("p"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"row-local scoring must not shuffle:\n$plan")
  }

  test("native unigram_ppl: agrees with the aggregate path on real data, zero shuffle, codegen") {
    graft.expr.GraftFunctions.ensure(spark)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = LmScore.fitUnigram(real, "text") // full corpus vocabulary
    val q = real.select(col("doc_id"), LmScore.perplexityCol(col("text"), lm).as("p"))
      .where(col("p").isNotNull)
    // two independently-computed formulations must agree to double ulps
    val viaExpr = q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaAgg = LmScore.perplexities(real, "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr.keySet == viaAgg.keySet, "row sets must match (tokenless docs excluded)")
    assert(viaExpr.nonEmpty)
    viaExpr.foreach { case (id, p) =>
      assert(math.abs(p - viaAgg(id)) <= 1e-9 * math.max(1.0, p.abs),
        s"doc $id: expr=$p agg=${viaAgg(id)}")
    }
    // plan shape: row-local — no exchange, no join, scan inside codegen
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"native scoring must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"native scoring must not join:\n$plan")
    assert(plan.contains("unigram_ppl"), s"expected the native expression:\n$plan")
    // "*(n)" marks whole-stage-codegen'd operators in the plan string
    assert(plan.contains("*(1) Project"), s"expected the scoring projection in codegen:\n$plan")
  }

  test("unigram_ppl model literal: equal models compare equal (canonicalization-safe)") {
    val lm = LmScore.UnigramLm(Map("a" -> -1.0, "b" -> -2.0), -3.0)
    val b1 = graft.expr.UnigramPerplexity.serialize(lm.logProbs)
    val b2 = graft.expr.UnigramPerplexity.serialize(Map("b" -> -2.0, "a" -> -1.0))
    assert(java.util.Arrays.equals(b1, b2), "serialization must be order-insensitive")
    val child = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("a"), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    val e1 = graft.expr.UnigramPerplexity(child, b1, -3.0)
    val e2 = graft.expr.UnigramPerplexity(child, b2, -3.0)
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
  }

  test("bigram fit and stupid-backoff scores match the hand-computed model exactly") {
    // ref tokens: [a,b] [a,b] [a,c] → 6 tokens, c(a)=3, c(b)=2, c(c)=1,
    // v=3 → unigram denom = 6 + 3 + 1 = 10
    val ref = Seq("a b", "a b", "a c").toDF("text")
    val lm = LmScore.fitBigram(ref, "text", alpha = 0.4)
    assert(lm.pairLogProbs.keySet == Set("a b", "a c"), s"pairs: ${lm.pairLogProbs.keySet}")
    assert(math.abs(lm.pairLogProbs("a b") - math.log(2.0 / 3)) < 1e-12)
    assert(math.abs(lm.pairLogProbs("a c") - math.log(1.0 / 3)) < 1e-12)
    assert(math.abs(lm.logAlpha - math.log(0.4)) < 1e-12)
    assert(math.abs(lm.unigram.logProbs("a") - math.log(4.0 / 10)) < 1e-12)
    graft.expr.GraftFunctions.ensure(spark)
    val probe = Seq((1L, "a b"), (2L, "b a"), (3L, "a z"), (4L, " ")).toDF("id", "text")
    val got = probe.select(col("id"),
        LmScore.bigramPerplexityCol(col("text"), lm).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    // doc 1: pos0 = uni(a) = ln(4/10); pos1 = pair "a b" = ln(2/3)
    val want1 = math.exp(-(math.log(4.0 / 10) + math.log(2.0 / 3)) / 2)
    // doc 2: pos0 = uni(b) = ln(3/10); pos1 pair "b a" unseen → ln(.4) + uni(a)
    val want2 = math.exp(-(math.log(3.0 / 10) + (math.log(0.4) + math.log(4.0 / 10))) / 2)
    // doc 3: pos0 = uni(a); pos1 unseen pair, z OOV → ln(.4) + ln(1/10)
    val want3 = math.exp(-(math.log(4.0 / 10) + (math.log(0.4) + math.log(1.0 / 10))) / 2)
    assert(math.abs(got(1L).get - want1) < 1e-9, s"got ${got(1L)} want $want1")
    assert(math.abs(got(2L).get - want2) < 1e-9, s"got ${got(2L)} want $want2")
    assert(math.abs(got(3L).get - want3) < 1e-9, s"got ${got(3L)} want $want3")
    assert(got(4L).isEmpty, "a tokenless document scores null")
  }

  test("native bigram_ppl agrees with the aggregate join path on real data; zero shuffle") {
    graft.expr.GraftFunctions.ensure(spark)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = LmScore.fitBigram(real, "text")
    val q = real.select(col("doc_id"), LmScore.bigramPerplexityCol(col("text"), lm).as("p"))
      .where(col("p").isNotNull)
    val viaExpr = q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaAgg = LmScore.bigramPerplexities(real, "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr.keySet == viaAgg.keySet, "row sets must match (tokenless docs excluded)")
    assert(viaExpr.nonEmpty)
    viaExpr.foreach { case (id, p) =>
      assert(math.abs(p - viaAgg(id)) <= 1e-9 * math.max(1.0, p.abs),
        s"doc $id: expr=$p agg=${viaAgg(id)}")
    }
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"native scoring must not shuffle or join:\n$plan")
    assert(plan.contains("bigram_ppl"), s"expected the native expression:\n$plan")
  }

  test("bigram perplexity sees word order where unigram cannot") {
    graft.expr.GraftFunctions.ensure(spark)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = LmScore.fitBigram(real, "text")
    // the probe must come from the MODEL's own distribution (the
    // synthetic corpus is not natural English): take an in-corpus
    // window — its forward bigrams are all in the fitted model — and
    // reverse it, which destroys them
    val fluent = real.orderBy("doc_id").select("text").head().getString(0)
      .toLowerCase.trim.split("\\s+").take(20).mkString(" ")
    val shuffled = fluent.split(" ").reverse.mkString(" ")
    val probe = Seq((1L, fluent), (2L, shuffled)).toDF("id", "text")
    val bi = probe.select(col("id"), LmScore.bigramPerplexityCol(col("text"), lm).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = probe.select(col("id"),
        LmScore.perplexityCol(col("text"), lm.unigram).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // unigram is order-blind: identical scores
    assert(math.abs(uni(1L) - uni(2L)) < 1e-9, s"unigram must be order-blind: $uni")
    // bigram must penalize the destroyed word order
    assert(bi(2L) > bi(1L),
      s"bigram must penalize shuffled order: fluent=${bi(1L)} shuffled=${bi(2L)}")
  }

  test("bigramSize caps the pair model; boundary is deterministic") {
    val ref = Seq("a b", "a b", "a c", "b c").toDF("text")
    // pair counts: "a b"=2, "a c"=1, "b c"=1 → top-2 = "a b", then "a c" (pair asc)
    val lm = LmScore.fitBigram(ref, "text", bigramSize = 2)
    assert(lm.pairLogProbs.keySet == Set("a b", "a c"),
      s"top-2 by (count desc, pair asc): ${lm.pairLogProbs.keySet}")
  }

  test("production scoring broadcast-joins the full-vocab model (hash lookups, not literal scans)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = LmScore.fitUnigram(real, "text") // full corpus vocabulary
    val q = LmScore.perplexities(real, "text", "doc_id", lm)
    val t0 = System.nanoTime()
    assert(q.count() > 0)
    val sec = (System.nanoTime() - t0) / 1e9
    // the map-literal form took ~8 MINUTES on this corpus/vocab — the
    // join path must stay interactive
    assert(sec < 60, s"full-vocab scoring took $sec s — literal-scan regression?")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model must broadcast-join:\n$plan")
  }

  test("fitUnigramWithSubset: both models bit-identical to separate fits (r20 fused pass)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (raw, target) = LmScore.fitUnigramWithSubset(real, "text", col("doc_id") % 7 === 0)
    val rawRef = LmScore.fitUnigram(real, "text")
    val targetRef = LmScore.fitUnigram(real.where(col("doc_id") % 7 === 0), "text")
    assert(raw.oovLogProb == rawRef.oovLogProb && raw.logProbs == rawRef.logProbs,
      "fused full model must equal the separate fit exactly")
    assert(target.oovLogProb == targetRef.oovLogProb && target.logProbs == targetRef.logProbs,
      "fused subset model must equal the separate fit exactly")
    // the vocab-cap boundary must stay the per-model (count desc, token
    // asc) rule under the fused counts too
    val (cappedFull, cappedSub) =
      LmScore.fitUnigramWithSubset(real, "text", col("doc_id") % 7 === 0, vocabSize = 5)
    assert(cappedFull.logProbs == LmScore.fitUnigram(real, "text", vocabSize = 5).logProbs)
    assert(cappedSub.logProbs ==
      LmScore.fitUnigram(real.where(col("doc_id") % 7 === 0), "text", vocabSize = 5).logProbs)
  }

  test("fitUnigram single-pass rewrite: model unchanged on hand-computed and real corpora") {
    // the r20 single-aggregation fit must reproduce the two-pass fit's
    // exact totals: total=Σn and v=#types derive from the counts frame
    val lm = LmScore.fitUnigram(Seq("a a b", "b c").toDF("text"), "text")
    // total=5, v=3, denom=9: p(a)=3/9, p(b)=3/9, p(c)=2/9, oov=1/9
    assert(math.abs(lm.logProbs("a") - math.log(3.0 / 9)) < 1e-12)
    assert(math.abs(lm.logProbs("c") - math.log(2.0 / 9)) < 1e-12)
    assert(math.abs(lm.oovLogProb - math.log(1.0 / 9)) < 1e-12)
  }

  // ── driver-side fit vs the distributed reference ──────────────────

  /** (driver fit, public fit, distributed reference): the first runs
    * the driver path whatever the vocabulary, the second takes the
    * driver path only when the vocabulary fits `vocabSize`. */
  private def fits(ref: org.apache.spark.sql.DataFrame, vocabSize: Int = 65536) =
    (LmScore.fitUnigramGated(ref, "text", vocabSize, 1000000),
      LmScore.fitUnigram(ref, "text", vocabSize),
      LmScore.fitUnigramGated(ref, "text", vocabSize, -1))

  test("driver and distributed unigram fits give identical models, ties at the cap included") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // "b", "c", U+FF41 and U+1F600 tie at count 2 behind "a". The
    // (count desc, token asc) cap keeps "b" at 2 and U+FF41 at 4: it
    // sorts before U+1F600 in Spark's UTF-8 byte order but after it in
    // Java's UTF-16 order. Every cap below 7 is under the vocabulary,
    // so the public fit takes the distributed jobs there.
    val ties = Seq("a a b c d", "a b c", null, "  ", "\uff41 \ud83d\ude00 \uff41 \ud83d\ude00 z")
      .toDF("text")
    Seq((real, 65536), (real, 5), (ties, 2), (ties, 3), (ties, 4), (ties, 100)).foreach {
      case (ref, cap) =>
        val (driver, public, reference) = fits(ref, cap)
        assert(driver == reference, s"cap $cap: driver ${driver.logProbs.keys} vs " +
          s"reference ${reference.logProbs.keys}")
        assert(public == reference, s"cap $cap")
    }
    assert(fits(ties, 2)._1.logProbs.keySet == Set("a", "b"))
    assert(fits(ties, 4)._1.logProbs.keySet == Set("a", "b", "c", "\uff41"))
    // a corpus of no tokens fails on both paths
    val blank = Seq("  ", "").toDF("text")
    Seq(1000000, -1).foreach { gate =>
      intercept[IllegalArgumentException](LmScore.fitUnigramGated(blank, "text", 10, gate))
    }
  }

  test("driver unigram fit fetches the vocabulary, not the text") {
    // 40 documents of ~200 KB over a 300-word vocabulary: 8 MB of text
    // whose counts are 300 short rows
    val long = spark.range(40).select(concat_ws(" ",
      transform(sequence(lit(0), lit(39999)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(300L)).cast("string"))))
      .as("text"))
    val sc = spark.sparkContext
    val tag = s"lm-long-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.tags"))).exists(_.split(",").contains(tag))) {
          js.stageIds.foreach(stages.add)
          if (p.flatMap(x => Option(x.getProperty("spark.job.description"))).contains(tag))
            sentinel.countDown()
        }
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          resultBytes.addAndGet(te.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val driver = try {
      val lm = LmScore.fitUnigram(long, "text")
      // events arrive in order: once the sentinel job's start is seen,
      // every earlier tagged task's end has been counted
      sc.setJobDescription(tag)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(10, java.util.concurrent.TimeUnit.SECONDS))
      lm
    } finally {
      sc.setJobDescription(null)
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
    assert(driver == LmScore.fitUnigramGated(long, "text", 65536, -1))
    assert(driver.logProbs.size == 300)
    assert(resultBytes.get() > 0 && resultBytes.get() < 1000000L,
      s"the fit's tasks returned ${resultBytes.get()} bytes for 8 MB of text")
  }

  test("driver unigram fit: fewer jobs than the distributed fit, nothing persisted") {
    val docs = spark.range(2000).select(concat_ws(" ",
      transform(sequence(lit(0), lit(19)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(500L)).cast("string"))))
      .as("text"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (driver, driverJobs) = jobsOf(LmScore.fitUnigram(docs, "text"))
    val (reference, referenceJobs) =
      jobsOf(LmScore.fitUnigramGated(docs, "text", 65536, -1))
    assert(driver == reference)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "neither fit may leave a persisted RDD")
    assert(driverJobs.size < referenceJobs.size,
      s"driver fit ${driverJobs.size} jobs, distributed fit ${referenceJobs.size}")
  }
}
