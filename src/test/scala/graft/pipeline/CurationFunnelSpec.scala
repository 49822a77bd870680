package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** Funnel accounting over CurationTransformer's own stage chain:
  * first-failing-stage attribution in pipeline order, every enabled
  * stage reported, conservation, and the no-corpus-shuffle plan. */
class CurationFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val goodText = ("the data pipeline reads the table and the " +
    "join is computed for this result ") * 12 // long, stopworded → q = 1.0

  private val stageOrder = Seq("dropped_url_blocklist", "dropped_url_domain_cap",
    "dropped_exact_dup", "dropped_semantic_dup", "dropped_quality", "dropped_repetition",
    "dropped_line_rules", "dropped_perplexity", "dropped_dsir", "dropped_classifier", "kept")

  private def docsByStage(rep: DataFrame): Map[String, Long] =
    rep.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("every stage drops exactly its documents, attributed in order") {
    val docs = Seq(
      (1L, goodText),                       // kept
      (2L, goodText),                       // exact dup of 1 → dropped_exact_dup
      (3L, goodText + " unique tail here"), // embedding twin of 1 → dropped_semantic_dup
      (4L, "zz!!! ??? !!! ;;; ###"),        // punctuation junk → dropped_quality
      (5L, "the line\nthe line\nthe line\nthe other the line is a good long sentence")
    ).toDF("doc_id", "text")
    // doc 5: 4 non-empty lines, 2 distinct "the line" repeats → rep = 2/4 = 0.5;
    // max.repetition 0.4 drops it by repetition (its quality clears 0.4;
    // the composite score floors near 0.34, so junk needs a floor above it)
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (1L, v(1, 0, 0, 0)), (3L, v(1, 0, 0, 0)), // identical pair: min id keeps
      (4L, v(0, 1, 0, 0)), (5L, v(0, 0, 1, 0))
    ).toDF("doc_id", "embedding")
    val rep = CurationFunnel.report(docs,
      Map("quality.min" -> "0.4", "max.repetition" -> "0.4",
        "semdedup.enabled" -> "true", "semdedup.table" -> "emb",
        "semdedup.clusters" -> "2"),
      Map("emb" -> emb))
    val rows = rep.collect()
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got("dropped_exact_dup") == (1L, 0.2), s"got $got")
    assert(got("dropped_semantic_dup") == (1L, 0.2), s"got $got")
    assert(got("dropped_quality") == (1L, 0.2), s"got $got")
    assert(got("dropped_repetition") == (1L, 0.2), s"got $got")
    assert(got("kept") == (1L, 0.2), s"got $got")
    assert(rows.map(_.getString(0)).toSeq == stageOrder.filter(got.contains),
      "rows come in stage order")
  }

  test("attribution order: an exact dup that also fails quality counts as a dup") {
    val docs = Seq((1L, "short"), (2L, "short")).toDF("doc_id", "text")
    val got = docsByStage(CurationFunnel.report(docs, Map("quality.min" -> "0.99")))
    assert(got == Map("dropped_exact_dup" -> 1L, "dropped_quality" -> 1L), s"got $got")
  }

  test("perplexity tier: null-scored (tokenless) docs are kept, high-ppl dropped") {
    val ref = Seq("aa bb cc aa bb aa").toDF("text")
    val docs = Seq((1L, "aa aa aa"), (2L, "zz yy xx ww"), (3L, "   "))
      .toDF("doc_id", "text")
    // doc 1 in-vocab (low ppl), doc 2 all-OOV (high), doc 3 tokenless (null)
    val got = docsByStage(CurationFunnel.report(docs,
      Map("quality.min" -> "0.0", "max.repetition" -> "1.0",
        "perplexity.enabled" -> "true", "perplexity.reference.table" -> "ref",
        "perplexity.max" -> "9.0"),
      Map("ref" -> ref)))
    assert(got("dropped_perplexity") == 1L, s"got $got")
    assert(got("kept") == 2L, s"tokenless must be kept: $got")
  }

  test("docs and tokens are conserved; shares sum to 1; corpus never row-shuffles") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val opts = Map("quality.min" -> "0.75")
    val rows = CurationFunnel.report(real, opts).collect()
    assert(rows.map(_.getLong(1)).sum == real.count())
    val tokens = real.agg(sum(graft.functions.TextFunctions.tokenCountWs(col("text"))))
      .head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == tokens)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    val plan = CurationTransformer.curate(real, Map.empty, opts, (_, df) => df)
      .queryExecution.executedPlan.toString
    // exact dedup's duplicate-fingerprint set arrives by broadcast
    assert(plan.contains("BroadcastHashJoin"), s"dup fingerprints must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must never row-shuffle into a join:\n$plan")
  }

  test("every tier enabled: the funnel accounts for each input row and matches the run") {
    val d = LocalDate.parse("2024-05-01")
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // exact copies of every 15th doc; seven url domains, one blocked
    val corpus = base.unionByName(base.where(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .withColumn("url", concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".com/"), col("doc_id").cast("string")))
    val emb = graft.SparkEntry.withPlantedIdenticalDups(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), "vec_id", "embedding")
    val ms = new Metastore(spark)
    val root = tmpDir("curfunnel_")
    Seq("docs_raw", "doc_emb", "trusted", "docs_curated")
      .foreach(t => ms.register(MetaTable(t, s"$root/$t")))
    ms.saveTable("docs_raw", d, corpus)
    ms.saveTable("doc_emb", d, emb)
    ms.saveTable("trusted", d, base.where(col("doc_id") % 4 === 0))
    // the option set of the pipeline benchmark's curation workload
    val opts = Map(
      "input.table" -> "docs_raw", "url.column" -> "url", "url.blocklist" -> "site3.com",
      "url.max.per.domain" -> "60",
      "quality.min" -> "0.3", "line.rules.enabled" -> "true",
      "semdedup.enabled" -> "true", "semdedup.table" -> "doc_emb", "semdedup.id.column" -> "vec_id",
      "semdedup.threshold" -> "0.95", "semdedup.clusters" -> "8",
      "perplexity.enabled" -> "true",
      "dsir.enabled" -> "true", "dsir.target.table" -> "trusted", "dsir.top.fraction" -> "0.9",
      "classifier.enabled" -> "true",
      "split.group.safe" -> "true", "split.group.jaccard" -> "0.8")
    val res = new Orchestrator(ms).runWith(Seq(JobDef(
      "curate", "docs_curated", new CurationTransformer,
      Seq("docs_raw", "doc_emb", "trusted"), options = opts)), RunParams.Rerun(d))
    res.head match {
      case TaskResult.Failed(_, e) => throw e
      case _: TaskResult.Succeeded => ()
      case other => fail(s"unexpected task result: $other")
    }
    val runKept = ms.getTable("docs_curated", Some(d), Some(d)).count()

    def table(name: String) = ms.getTable(name, Some(d), Some(d))
    val rows = CurationFunnel.report(table("docs_raw"), opts, table).collect()
    val labels = rows.map(_.getString(0)).toSeq
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == corpus.count(), s"every input row lands in one stage: $got")
    assert(got("kept") == runKept, s"kept must equal the run's output rows: $got vs $runKept")
    assert(labels == stageOrder.filter(got.contains), s"labels in transformer order: $labels")
    Seq("dropped_url_blocklist", "dropped_url_domain_cap", "dropped_exact_dup",
      "dropped_semantic_dup", "dropped_dsir").foreach(s =>
      assert(got.contains(s), s"$s must drop planted rows: $got"))
  }
}
