package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Perplexity-based quality scoring — the CCNet filtering idea (score
 * documents against a language model trained on a trusted reference
 * corpus; low perplexity ≈ fluent, in-domain text) reduced to a
 * unigram model with add-one smoothing: no external LM artifacts, and
 * a unigram model already separates gibberish/boilerplate from prose
 * by orders of magnitude, which is what a bucket-into-quality-tiers
 * stage needs.
 *
 * Scale story: a fit is one token-count aggregation. When it yields
 * at most `vocabSize` distinct tokens, one limit-guarded collect brings
 * them to the driver, which builds the model; a larger vocabulary
 * takes two bounded jobs over the cached counts (a scalar total/vocab
 * aggregate and a TakeOrdered top-`vocabSize` count — never a full
 * vocabulary collect). Scoring has three shapes:
 * [[perplexityCol]] (the production path — r12) scores ROW-LOCALLY
 * through the native `unigram_ppl` expression: the model rides the
 * plan as one binary literal, deserialized per task into a hash map,
 * O(1) probes per token, zero extra rows, zero shuffle, whole-stage
 * codegen intact; [[perplexities]] (the aggregate formulation, kept
 * as the independently-computed cross-check) broadcast-joins the
 * model onto EXPLODED tokens — a ~tokens-per-doc row blow-up pushed
 * through a per-doc shuffle, which at 100 TB is the bottleneck the
 * expression removes; [[perplexity]] (the map-literal Column form)
 * probes by LINEAR SCAN — measured at ~8 minutes for a 500 doc ×
 * 20k-vocab corpus — only for small models (≲ 2k entries: per-row
 * thresholds, embedded stopword tables). Documents with no tokens
 * score null (absent from [[perplexities]]).
 */
object LmScore {

  /** Unigram log-probabilities for the top-`vocabSize` tokens plus the
    * smoothed out-of-vocabulary floor. */
  final case class UnigramLm(logProbs: Map[String, Double], oovLogProb: Double)

  /** Fit on a reference corpus: add-one smoothing over
    * (total tokens + distinct vocabulary + 1 OOV pseudo-type), vocab
    * capped at `vocabSize` with a deterministic (count desc, token
    * asc) boundary. One token-count aggregation, whose (token, n) rows
    * are fetched in one limit-guarded collect when there are at most
    * `vocabSize` of them — the model is then built on the driver, and
    * the driver holds no more than the distributed path's own final
    * top-`vocabSize` collect. A larger vocabulary runs the two bounded
    * jobs over the cached counts. Both give the same model. */
  def fitUnigram(reference: DataFrame, textCol: String,
                 vocabSize: Int = 65536): UnigramLm =
    fitUnigramGated(reference, textCol, vocabSize, vocabSize)

  /** [[fitUnigram]] with the driver-side gate, in distinct tokens, as
    * an argument; a negative gate always runs the distributed jobs,
    * the reference the driver path must reproduce. */
  private[operators] def fitUnigramGated(reference: DataFrame, textCol: String,
                                         vocabSize: Int,
                                         driverMaxTokens: Int): UnigramLm = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    // ONE exploded-token aggregation (r20, guide §2.3 "aggregate
    // before you shuffle" / §2.4 "do fewer passes"): total, vocabulary
    // size and the top-K boundary all derive from the (token, n)
    // counts. The counts frame (one row per distinct token) is
    // persisted for the follow-up jobs, then released.
    val counts = tokenCounts(reference, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val spark = reference.sparkSession
      import spark.implicits._
      DriverCollect.collectAtMost(counts.as[(String, Long)],
          math.min(driverMaxTokens, Int.MaxValue - 1)) match {
        case Some(local) => unigramFromLocalCounts(local, vocabSize)
        case None => unigramFromCounts(counts, vocabSize)
      }
    } finally { counts.unpersist(); () }
  }

  /** [[unigramFromCounts]] over driver-side counts: the same totals,
    * smoothing and (count desc, token asc) cap, with tokens ordered as
    * Spark orders strings (by UTF-8 bytes, not UTF-16 units). */
  private def unigramFromLocalCounts(counts: Array[(String, Long)],
                                     vocabSize: Int): UnigramLm = {
    val total = counts.iterator.map(_._2).sum
    require(total > 0, "cannot fit a unigram model on an empty reference corpus")
    val denom = (total + counts.length + 1).toDouble
    val top = counts
      .map { case (t, n) => (org.apache.spark.unsafe.types.UTF8String.fromString(t), t, n) }
      .sortWith { case ((ua, _, na), (ub, _, nb)) => na > nb || (na == nb && ua.binaryCompare(ub) < 0) }
      .take(vocabSize)
    UnigramLm(
      top.map { case (_, t, n) => t -> math.log((n + 1).toDouble / denom) }.toMap,
      math.log(1.0 / denom))
  }

  /** (token, n) occurrence counts of the non-empty whitespace tokens —
    * the single corpus pass every unigram-family fit derives from. */
  private def tokenCounts(reference: DataFrame, textCol: String): DataFrame =
    reference
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))

  /** Build the add-one-smoothed model from a (tok, n) counts frame:
    * total = Σn, v = row count, top-`vocabSize` by the deterministic
    * (count desc, token asc) boundary — bit-identical to fitting from
    * the raw token stream. */
  private def unigramFromCounts(counts: DataFrame, vocabSize: Int,
                                nCol: String = "n"): UnigramLm = {
    val stats = counts.agg(coalesce(sum(col(nCol)), lit(0L)).as("total"),
      count(lit(1)).as("v")).head()
    val total = stats.getLong(0)
    require(total > 0, "cannot fit a unigram model on an empty reference corpus")
    val v = stats.getLong(1)
    val denom = (total + v + 1).toDouble
    val top = counts.select(col("tok"), col(nCol).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(vocabSize)
      .collect()
    UnigramLm(
      top.map(r => r.getString(0) -> math.log((r.getLong(1) + 1).toDouble / denom)).toMap,
      math.log(1.0 / denom))
  }

  /** Fit TWO unigram models in one corpus pass: the full reference and
    * the `subset` rows (DSIR's target-vs-pool shape — the pool contains
    * the target, so fitting them separately scans and shuffles the
    * corpus twice for counts one pass already holds). Returns
    * (fullModel, subsetModel), each bit-identical to `fitUnigram` on
    * the corresponding frame: per-token counts aggregate as (n_all,
    * n_subset) in one shuffle; totals, vocabulary sizes and the
    * (count desc, token asc) top-K boundaries derive per model. */
  def fitUnigramWithSubset(reference: DataFrame, textCol: String,
                           subset: Column,
                           vocabSize: Int = 65536): (UnigramLm, UnigramLm) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val counts = reference
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"),
        when(subset, 1L).otherwise(0L).as("_in"))
      .where(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"), sum(col("_in")).as("n_sub"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val full = unigramFromCounts(counts, vocabSize)
      val sub = unigramFromCounts(counts.where(col("n_sub") > 0), vocabSize, "n_sub")
      (full, sub)
    } finally { counts.unpersist(); () }
  }

  /**
   * Per-document perplexities (idCol, perplexity) — the production
   * scoring path: the model broadcast-joins onto exploded tokens
   * (hash lookups, not the map-literal linear scan), per-doc sums
   * combine map-side. Tokenless documents emit no row. Callers
   * needing the full corpus row join back on idCol.
   */
  def perplexities(docs: DataFrame, textCol: String, idCol: String,
                   lm: UnigramLm): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val model = broadcast(lm.logProbs.toSeq.toDF("_tok", "_lp"))
    docs
      .select(col(idCol),
        explode(filter(TextFunctions.tokens(col(textCol)), t => t =!= "")).as("_tok"))
      .join(model, Seq("_tok"), "left")
      .groupBy(col(idCol))
      .agg(exp(-sum(coalesce(col("_lp"), lit(lm.oovLogProb))) / count(lit(1)))
        .as("perplexity"))
  }

  /** Per-document perplexity as a row-local column through the native
    * hash-probe `unigram_ppl` expression — the production scoring
    * path: no explode, no join, no shuffle; null for tokenless docs.
    * Caller's session must have graft functions registered
    * ([[graft.expr.GraftFunctions.ensure]]). */
  def perplexityCol(text: Column, lm: UnigramLm): Column =
    graft.expr.GraftFunctions.unigramPpl(
      TextFunctions.tokens(text),
      graft.expr.UnigramPerplexity.serialize(lm.logProbs),
      lm.oovLogProb)

  /** Per-document perplexity exp(−mean token log-prob) as a row-local
    * column expression; null when the document has no tokens.
    * SMALL MODELS ONLY (≲ 2k entries) — the map literal is probed by
    * linear scan per token; use [[perplexityCol]] for real
    * vocabularies. */
  def perplexity(text: Column, lm: UnigramLm): Column = {
    val model = typedlit(lm.logProbs)
    val toks = filter(TextFunctions.tokens(text), t => t =!= "")
    val lpSum = aggregate(toks, lit(0.0d),
      (acc, t) => acc + coalesce(element_at(model, t), lit(lm.oovLogProb)))
    when(size(toks) === 0, lit(null).cast("double"))
      .otherwise(exp(-lpSum / size(toks)))
  }

  /** The corpus with a `perplexity` column (null for tokenless docs) —
    * the CCNet-style tiering input (callers bucket or threshold it).
    * One corpus-keyed join back; use [[perplexities]] alone when only
    * (id, score) is needed. */
  def scored(docs: DataFrame, textCol: String, idCol: String, lm: UnigramLm): DataFrame =
    docs.join(perplexities(docs, textCol, idCol, lm), Seq(idCol), "left")

  // ── bigram tier (stupid backoff — Brants et al. 2007) ─────────────

  /** Stupid-backoff bigram model: `pairLogProbs` maps the printable
    * key `prev + " " + cur` (tokens are whitespace-split, so the space
    * is unambiguous) to `log(c(prev,cur) / c(prev))`; unseen pairs
    * back off to `logAlpha + unigram`. A bigram model sees WORD ORDER
    * — shuffling a fluent document's tokens leaves its unigram
    * perplexity untouched but destroys every bigram. */
  final case class BigramLm(pairLogProbs: Map[String, Double],
                            unigram: UnigramLm, logAlpha: Double)

  /**
   * Fit on a reference corpus. Bounded like [[fitUnigram]]: pair
   * counts aggregate distributedly (the shuffle carries (pair, long)),
   * the model keeps the top-`bigramSize` pairs with a deterministic
   * (count desc, pair asc) boundary, and context counts join onto that
   * bounded set BEFORE the one collect — never a full pair-vocabulary
   * collect. `c(prev)` is the plain corpus unigram count (the stupid-
   * backoff score is a ratio of raw counts; no smoothing on the bigram
   * tier — that is what the backoff is for).
   */
  def fitBigram(reference: DataFrame, textCol: String, vocabSize: Int = 65536,
                bigramSize: Int = 1 << 18, alpha: Double = 0.4): BigramLm = {
    require(bigramSize >= 1, s"bigramSize must be >= 1: $bigramSize")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    // ONE token-count pass shared three ways (r20): the former shape
    // aggregated the exploded tokens TWICE (once inside fitUnigram,
    // once as `tokCounts` for the context denominators) on top of the
    // pair pass. The cached (tok, n) frame feeds the unigram tier and
    // the c(prev) join; only the pair counts need their own pass.
    val counts = tokenCounts(reference, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val uni = unigramFromCounts(counts, vocabSize)
      val toks = reference
        .select(filter(TextFunctions.tokens(col(textCol)), t => t =!= "").as("_t"))
      val tail = greatest(size(col("_t")) - 1, lit(0))
      val pairs = toks.select(explode(zip_with(
        slice(col("_t"), lit(1), tail),
        slice(col("_t"), lit(2), tail),
        (a, b) => concat(a, lit(" "), b))).as("_pair"))
      val tokCounts = counts.select(col("tok").as("_tok"), col("n").as("_cn"))
      val top = pairs.groupBy(col("_pair")).agg(count(lit(1)).as("_n"))
        .orderBy(col("_n").desc, col("_pair"))
        .limit(bigramSize)
      val rows = top
        .withColumn("_prev", substring_index(col("_pair"), " ", 1))
        .join(tokCounts, col("_prev") === col("_tok"))
        .select(col("_pair"), log(col("_n").cast("double") / col("_cn")).as("_lp"))
        .collect()
      BigramLm(rows.map(r => r.getString(0) -> r.getDouble(1)).toMap,
        uni, math.log(alpha))
    } finally { counts.unpersist(); () }
  }

  /** Per-document stupid-backoff bigram perplexity as a row-local
    * column through the native `bigram_ppl` expression — position 0
    * scores by the unigram model, later positions by the pair map with
    * `logAlpha + unigram` backoff; null for tokenless docs. Zero
    * shuffle; caller's session must have graft functions registered. */
  def bigramPerplexityCol(text: Column, lm: BigramLm): Column =
    graft.expr.GraftFunctions.bigramPpl(
      TextFunctions.tokens(text),
      graft.expr.UnigramPerplexity.serialize(lm.pairLogProbs),
      graft.expr.UnigramPerplexity.serialize(lm.unigram.logProbs),
      lm.logAlpha, lm.unigram.oovLogProb)

  /** The aggregate (explode + broadcast-join) formulation of bigram
    * scoring — the independently-computed cross-check of
    * [[bigramPerplexityCol]], same contract as [[perplexities]] vs the
    * native expression: one row per token position through a per-doc
    * shuffle, which is exactly the blow-up the expression avoids. */
  def bigramPerplexities(docs: DataFrame, textCol: String, idCol: String,
                         lm: BigramLm): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairModel = broadcast(lm.pairLogProbs.toSeq.toDF("_key", "_plp"))
    val uniModel = broadcast(lm.unigram.logProbs.toSeq.toDF("_cur", "_ulp"))
    val oov = lit(lm.unigram.oovLogProb)
    docs
      .select(col(idCol), filter(TextFunctions.tokens(col(textCol)), t => t =!= "").as("_t"))
      .select(col(idCol), col("_t"), posexplode(col("_t")).as(Seq("_i", "_cur")))
      .withColumn("_key",
        when(col("_i") === 0, lit(null).cast("string"))
          .otherwise(concat(element_at(col("_t"), col("_i")), lit(" "), col("_cur"))))
      .join(pairModel, Seq("_key"), "left")
      .join(uniModel, Seq("_cur"), "left")
      .withColumn("_lp",
        when(col("_key").isNull, coalesce(col("_ulp"), oov))
          .when(col("_plp").isNotNull, col("_plp"))
          .otherwise(lit(lm.logAlpha) + coalesce(col("_ulp"), oov)))
      .groupBy(col(idCol))
      .agg(exp(-sum(col("_lp")) / count(lit(1))).as("bigram_ppl"))
  }
}
