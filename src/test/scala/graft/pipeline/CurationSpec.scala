package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore}
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** The composed curation stage over real documents + crafted cases. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-05-01")

  test("curation drops duplicates and junk, annotates and splits the rest") {
    val good = "The quick brown fox jumps over the lazy dog near the river bank. " * 8
    val docs = Seq(
      (1L, good), (2L, good),                        // duplicate pair — keep id 1
      (3L, "aaa\naaa\naaa\naaa"),                    // repetition junk
      (4L, "zz!!! ??? !!! ;;; ###"),                 // punctuation junk
      (5L, "El perro y los gatos en una casa para el niño. " * 8)
    ).toDF("doc_id", "text")

    val ms = new Metastore(spark)
    val base = tmpDir("cur_")
    ms.register(MetaTable("raw", s"$base/raw"))
    ms.register(MetaTable("cur", s"$base/cur"))
    ms.saveTable("raw", d, docs)
    val res = new Orchestrator(ms).run(Seq(JobDef(
      "curate", "cur", new CurationTransformer, Seq("raw"),
      // composite score floors at ~0.34 (case/stopword otherwise-branches),
      // so catching pure-punctuation junk needs a threshold above that
      options = Map("input.table" -> "raw", "quality.min" -> "0.4"))), d)
    assert(res.head.isInstanceOf[TaskResult.Succeeded])

    val out = ms.getTable("cur", Some(d), Some(d))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L) && !ids.contains(2L), "dup must drop, keeper stays")
    assert(!ids.contains(3L), "repetition junk must drop")
    assert(!ids.contains(4L), "punctuation junk must drop")
    assert(ids.contains(5L))

    val row1 = out.where(col("doc_id") === 1L).head()
    assert(row1.getAs[String]("lang_pred") == "en")
    assert(row1.getAs[Int]("n_tokens") == 13 * 8) // 13 words x 8 repeats
    assert(Set("train", "val", "test").contains(row1.getAs[String]("split")))
    assert(out.columns.contains("quality") && out.columns.contains("fingerprint"))
  }

  /** The v2 corpus (semantic dedup + perplexity + group-safe split
    * all enabled) in a fresh metastore: (metastore, job options). */
  private def v2Fixture(): (Metastore, Map[String, String]) = {
    val s = "The quick brown fox jumps over the lazy dog near the river bank. "
    val near1 = s * 8
    val near2 = s * 7 + s.replace("lazy", "sleepy") // one-word edit in one repeat
    val weird = "zxqv glorp xuzzle frumble wazzock snigglet vorpal quibblex " * 6
    val docs = Seq(
      (1L, "Common words make a perfectly ordinary document about the fox and the dog. " * 4),
      (2L, "Another ordinary document with the usual words about rivers and banks today. " * 4),
      (21L, "Document twenty one is ordinary text about the quick fox near the river. " * 4),
      (22L, "Document twenty two is different text but its embedding is nearly identical. " * 4),
      (30L, "No embedding exists for this ordinary document about dogs near the bank. " * 4),
      (41L, near1), (42L, near2),
      (50L, weird)
    ).toDF("doc_id", "text")
    // near-identical embeddings for 21/22 (cos ~1); others well apart;
    // docs 30/41/42/50 have NO embedding row
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (1L, v(1, 0, 0, 0, 0.2, 0, 0, 0)),
      (2L, v(0, 1, 0, 0, 0, 0.3, 0, 0)),
      (21L, v(0, 0, 1, 0.4, 0, 0, 0.1, 0)),
      (22L, v(0, 0, 1.01, 0.41, 0, 0, 0.1, 0))
    ).toDF("doc_id", "embedding")

    val ms = new Metastore(spark)
    val base = tmpDir("curv2_")
    ms.register(MetaTable("raw", s"$base/raw"))
    ms.register(MetaTable("emb", s"$base/emb"))
    ms.register(MetaTable("cur", s"$base/cur"))
    ms.saveTable("raw", d, docs)
    ms.saveTable("emb", d, emb)

    val opts = Map(
      "input.table" -> "raw", "quality.min" -> "0.0", "max.repetition" -> "1.0",
      "semdedup.enabled" -> "true", "semdedup.table" -> "emb",
      "semdedup.threshold" -> "0.95", "semdedup.clusters" -> "2",
      "perplexity.enabled" -> "true",
      "split.group.safe" -> "true", "split.group.jaccard" -> "0.6",
      "split.weights" -> "0.5,0.25,0.25")
    (ms, opts)
  }

  test("v2 stages: semantic dedup, perplexity tiering and leakage-safe split, all config-keyed") {
    val (ms, opts) = v2Fixture()
    def runWith(extra: Map[String, String]): org.apache.spark.sql.DataFrame = {
      val res = new Orchestrator(ms).runWith(Seq(JobDef(
        "curate", "cur", new CurationTransformer, Seq("raw", "emb"),
        options = opts ++ extra)), RunParams.Rerun(d))
      res.head match {
        case TaskResult.Failed(_, e) => throw e
        case _: TaskResult.Succeeded => ()
        case other => fail(s"unexpected task result: $other")
      }
      ms.getTable("cur", Some(d), Some(d))
    }

    val out = runWith(Map.empty)
    val ids = out.select("doc_id").as[Long].collect().toSet
    // semantic dedup: exactly one of the embedding-near-dup pair stays,
    // embedding-less docs are untouched
    assert(ids.intersect(Set(21L, 22L)).size == 1, s"semdedup should prune one of 21/22: $ids")
    assert(ids.contains(30L), "docs without an embedding row must survive semdedup")
    // perplexity: scored for every tokenful doc, the alien-vocabulary
    // doc scores strictly worse than every ordinary one
    val ppl = out.select("doc_id", "perplexity").as[(Long, Double)].collect().toMap
    val ordinary = ppl.filter(_._1 != 50L).values
    assert(ppl(50L) > ordinary.max,
      s"weird doc must out-perplex ordinary docs: ${ppl(50L)} vs ${ordinary.max}")
    // leakage-safe split: the surviving near-dup TEXT pair lands on one side
    val splits = out.where(col("doc_id").isin(41L, 42L))
      .select("split").as[String].collect().toSet
    assert(splits.size == 1, s"near-dup pair must not straddle splits: $splits")

    // the CCNet tail cut: a max between the ordinary and weird scores
    // drops exactly the weird doc on re-run
    val cut = (ordinary.max + ppl(50L)) / 2
    val ids2 = runWith(Map("perplexity.max" -> cut.toString))
      .select("doc_id").as[Long].collect().toSet
    assert(!ids2.contains(50L) && ids2.contains(1L), s"perplexity.max should drop only the weird doc: $ids2")
  }

  test("curation fit blocks run inside the caller's job group") {
    val (ms, opts) = v2Fixture()
    val sc = spark.sparkContext
    def curated(): Seq[org.apache.spark.sql.Row] = new CurationTransformer()
      .run(ms.readerFor(Some(Set("raw", "emb")), currentInfoDate = Some(d)), d, opts)
      .orderBy("doc_id").collect().toSeq
    val reference = curated()

    // suites share the session: this run's jobs are told apart by a tag
    // the pool threads inherit along with the group
    val tag = s"cur-group-${java.util.UUID.randomUUID()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        if (Option(prop("spark.job.tags")).exists(_.split(",").contains(tag))) {
          if (prop("spark.job.description") == tag) sentinel.countDown()
          else groups.add(String.valueOf(prop("spark.jobGroup.id")))
        }
      }
    }
    sc.addSparkListener(listener)
    val inGroup = try {
      sc.setJobGroup("g", "caller task")
      sc.addJobTag(tag)
      val out = curated()
      // listener events arrive in order: once this job is seen, every
      // job the run started has been seen too
      sc.setJobDescription(tag)
      spark.range(1).count()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally {
      sc.removeJobTag(tag)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!groups.isEmpty, "no job of the run was seen")
    val foreign = groups.toArray.toSeq.filterNot(_ == "g").distinct
    assert(foreign.isEmpty, s"jobs outside the caller's group: $foreign")
    assert(inGroup == reference)
  }

  test("v3 stages: DSIR importance tier and trained-classifier tier, config-keyed") {
    // target = prose in one vocabulary; pool = half prose-like,
    // half alien vocabulary — DSIR weights and classifier scores must
    // separate them, and the cut options must drop the alien half
    val proseWords = Seq("the", "data", "pipeline", "reads", "tables", "and",
      "joins", "rows", "for", "results")
    val alienWords = Seq("zorp", "flug", "quix", "blarn", "wubble", "snerf",
      "grindle", "plomp", "vexil", "drusk")
    // lengths vary per doc so importance weights are DISTINCT — equal
    // weights would put the whole corpus on one quantile tie
    def doc(words: Seq[String], seed: Int, len: Int) =
      (0 until len).map(i => words((i * 7 + seed) % words.length)).mkString(" ")
    val target = (1 to 8).map(i => (100L + i, doc(proseWords, i, 60)))
      .toDF("doc_id", "text")
    val pool = ((1 to 6).map(i => (i.toLong, doc(proseWords, i + 3, 40 + i * 6))) ++
      (11 to 16).map(i => (i.toLong, doc(alienWords, i, 40 + i * 3))))
      .toDF("doc_id", "text")

    val ms = new Metastore(spark)
    val base = tmpDir("curv3_")
    ms.register(MetaTable("raw", s"$base/raw"))
    ms.register(MetaTable("tgt", s"$base/tgt"))
    ms.register(MetaTable("cur", s"$base/cur"))
    ms.saveTable("raw", d, pool)
    ms.saveTable("tgt", d, target)

    def runWith(extra: Map[String, String]): org.apache.spark.sql.DataFrame = {
      val res = new Orchestrator(ms).runWith(Seq(JobDef(
        "curate", "cur", new CurationTransformer, Seq("raw", "tgt"),
        options = Map("input.table" -> "raw", "quality.min" -> "0.0",
          "max.repetition" -> "1.0", "dsir.target.table" -> "tgt") ++ extra)), RunParams.Rerun(d))
      res.head match {
        case TaskResult.Failed(_, e) => throw e
        case _: TaskResult.Succeeded => ()
        case other => fail(s"unexpected task result: $other")
      }
      ms.getTable("cur", Some(d), Some(d))
    }

    // annotate-only: both columns present, prose outranks alien on both
    val out = runWith(Map("dsir.enabled" -> "true", "classifier.enabled" -> "true"))
    val w = out.select("doc_id", "dsir_logw").as[(Long, Double)].collect().toMap
    val c = out.select("doc_id", "clf_score").as[(Long, Double)].collect().toMap
    assert(w.keySet == (1L to 6L).toSet ++ (11L to 16L).toSet)
    assert((1L to 6L).map(w).min > (11L to 16L).map(w).max,
      s"every prose doc must out-weigh every alien doc: $w")
    assert((1L to 6L).map(c).min > (11L to 16L).map(c).max,
      s"classifier must separate prose from alien: $c")

    // top-0.25 cut: the quantile rank sits safely inside the prose
    // block (weights are distinct and the prose/alien gap is huge), so
    // the kept set is a non-empty subset of prose with zero aliens —
    // the exact count at the rank boundary is the approx-quantile's
    // documented slack
    val kept = runWith(Map("dsir.enabled" -> "true", "dsir.top.fraction" -> "0.25"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.nonEmpty && kept.subsetOf((1L to 6L).toSet),
      s"top-fraction must keep only prose docs: $kept")
    // classifier cut between the observed groups (prose docs are
    // themselves part of the NEGATIVE pool, so an absolute 0.5 is not
    // meaningful — the gap is): drops exactly the alien half
    val cut = ((1L to 6L).map(c).min + (11L to 16L).map(c).max) / 2
    val kept2 = runWith(Map("classifier.enabled" -> "true",
        "classifier.min" -> cut.toString))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == (1L to 6L).toSet, s"classifier.min must keep the prose half: $kept2")

    // validation: enabling either tier without the target table is NotReady
    val v = new CurationTransformer().validate(null, d,
      Map("input.table" -> "raw", "dsir.enabled" -> "true"))
    assert(v.isInstanceOf[Reason.NotReady])
  }

  test("group-safe split groups near-dup chains THROUGH quality-pruned docs (pairs from raw input)") {
    // 41 ~ 42 and 42 ~ 43 but 41 !~ 43 directly; 42 is dropped by the
    // quality gate (giant punctuation run). Pairs are computed on the
    // RAW corpus, so 41 and 43 still share a group via the pruned 42
    // and must land in the same split — the conservative leakage rule
    // (and the shape that avoids evaluating the curated DAG twice).
    val t = (0 until 60).map(i => s"tcommon$i").mkString(" ")
    val a = (0 until 60).map(i => s"aonly$i").mkString(" ")
    val b = (0 until 60).map(i => s"bonly$i").mkString(" ")
    val docs = Seq(
      (41L, s"$a $t"),
      (42L, s"$t ${"!" * 400}"),
      (43L, s"$t $b"),
      (60L, (0 until 120).map(i => s"filler$i").mkString(" "))
    ).toDF("doc_id", "text")
    val ms = new Metastore(spark)
    val base = tmpDir("curchain_")
    ms.register(MetaTable("rawc", s"$base/rawc"))
    ms.register(MetaTable("curc", s"$base/curc"))
    ms.saveTable("rawc", d, docs)
    new Orchestrator(ms).runWith(Seq(JobDef(
      "curate", "curc", new CurationTransformer, Seq("rawc"),
      options = Map(
        "input.table" -> "rawc", "quality.min" -> "0.8", "max.repetition" -> "1.0",
        "split.group.safe" -> "true", "split.group.jaccard" -> "0.45"))), RunParams.Rerun(d))
    val out = ms.getTable("curc", Some(d), Some(d))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(41L, 43L, 60L), s"quality gate should drop only 42: $ids")
    val splits = out.where(col("doc_id").isin(41L, 43L))
      .select("split").as[String].collect().toSet
    assert(splits.size == 1,
      s"41 and 43 chain through the pruned 42 and must not straddle splits: $splits")
  }

  test("url tier and line-wise rules, config-keyed") {
    val prose = "The quick brown fox jumps over the lazy dog near the river bank. " * 8
    val listy = prose + "\n- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine"
    val docs = Seq(
      (1L, prose, "https://ham.com/a"),
      (2L, prose + " extra tail one.", "https://www.spam.org/b"),   // blocked domain
      (3L, prose + " extra tail two.", "https://big.net/1"),        // big.net over cap:
      (4L, prose + " extra tail three.", "https://big.net/2"),      //   one of 3-5 survives
      (5L, prose + " extra tail four.", "https://big.net/3"),
      (6L, listy, "https://ham.com/c")                              // bullet swarm
    ).toDF("doc_id", "text", "url")

    val ms = new Metastore(spark)
    val base = tmpDir("cur_url_")
    ms.register(MetaTable("raw", s"$base/raw"))
    ms.register(MetaTable("cur", s"$base/cur"))
    ms.saveTable("raw", d, docs)
    val res = new Orchestrator(ms).run(Seq(JobDef(
      "curate", "cur", new CurationTransformer, Seq("raw"),
      options = Map("input.table" -> "raw",
        "url.column" -> "url", "url.blocklist" -> "spam.org",
        "url.max.per.domain" -> "1",
        "line.rules.enabled" -> "true", "line.max.bullet" -> "0.4"))), d)
    assert(res.head.isInstanceOf[TaskResult.Succeeded])

    val ids = ms.getTable("cur", Some(d), Some(d))
      .select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L), "clean doc on a clean domain survives")
    assert(!ids.contains(2L), "blocklisted registered domain (www. variant) must drop")
    assert(ids.intersect(Set(3L, 4L, 5L)).size == 1,
      s"per-domain cap=1 keeps exactly one big.net doc: $ids")
    assert(!ids.contains(6L), "bullet-swarm doc dies on the line rules")
  }

  test("url tier: the domain cap's hot-set query runs once per curation task") {
    val prose = "The quick brown fox jumps over the lazy dog near the river bank. " * 8
    val tails = Seq("one", "two", "three", "four", "five", "six", "seven", "eight", "nine",
      "ten", "eleven", "twelve")
    val docs = (1L to 12L).map(i => (i, s"$prose extra tail ${tails(i.toInt - 1)}.",
      if (i <= 8) s"https://big.net/$i" else s"https://ham.com/$i")).toDF("doc_id", "text", "url")
    val options = Map("input.table" -> "raw", "url.column" -> "url",
      "url.max.per.domain" -> "4")
    // building the curated frame runs only the hot-domain query: the
    // unmarked (`docs`) and marked builds of the tier share its result
    val (curated, queries) = queriesOf(
      CurationTransformer.curate(docs, _ => docs, options, (_, df) => df))
    assert(queries == 1, s"building the curated frame started $queries SQL executions")
    val kept = curated.select("doc_id").as[Long].collect().toSet
    assert(kept.count(_ <= 8) == 4 && (9L to 12L).forall(kept),
      s"the cap keeps 4 big.net docs and every ham.com doc: $kept")
  }

  test("v2 validation: semdedup.enabled without semdedup.table is NotReady") {
    val r = new CurationTransformer().validate(null, d,
      Map("input.table" -> "raw", "semdedup.enabled" -> "true"))
    assert(r.isInstanceOf[Reason.NotReady])
  }

  test("runs over the real documents table with sane retention") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ms = new Metastore(spark)
    val base = tmpDir("curr_")
    ms.register(MetaTable("raw", s"$base/raw"))
    ms.register(MetaTable("cur", s"$base/cur"))
    ms.saveTable("raw", d, docs)
    new Orchestrator(ms).run(Seq(JobDef(
      "curate", "cur", new CurationTransformer, Seq("raw"),
      options = Map("input.table" -> "raw", "quality.min" -> "0.2"))), d)
    val out = ms.getTable("cur", Some(d), Some(d))
    val kept = out.count()
    assert(kept > 100 && kept <= 500, s"retention off: $kept of 500")
    // splits cover the output and are disjoint by construction
    assert(out.groupBy("split").count().count() == 3)
  }
}
