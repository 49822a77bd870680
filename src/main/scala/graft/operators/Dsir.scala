package graft.operators

import graft.functions.TextFunctions
import graft.operators.LmScore.UnigramLm
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
 * pick pre-training documents that LOOK LIKE a trusted target corpus
 * by resampling the raw pool with probability proportional to the
 * importance weight p_target(x)/p_raw(x) under cheap bag-of-words
 * language models. The paper's hashed-n-gram features reduce here to
 * the [[LmScore]] unigram machinery the repo already ships: fit one
 * LM on the target sample and one on the raw pool, and a document's
 * LOG weight is Σ_tokens [log p_target(t) − log p_raw(t)].
 *
 * Scale story: the two fits are [[LmScore.fitUnigram]]s — one
 * token-count aggregation each, its counts collected to the driver
 * when the vocabulary fits the model's cap, else two more bounded jobs
 * (a scalar aggregate and a TakeOrdered top-vocab — never a full
 * vocabulary collect). Scoring folds the two models into ONE
 * difference model (d(t) = lp_target(t) − lp_raw(t), OOV floor =
 * oov_target − oov_raw) probed row-locally by the native codegen'd
 * `unigram_ppl` expression — one hash probe per token, zero extra
 * rows, zero shuffle, the scan stays in whole-stage codegen. Gumbel
 * resampling keys are row-local (hash-derived uniforms, no RNG
 * state), so selection is one TakeOrdered (exact top-k, k-bounded
 * driver merge) or one approx-quantile threshold + filter (the
 * corpus-fraction path — no global sort at any k).
 */
object Dsir {

  /** The two fitted models folded into the single difference model
    * scoring probes: d(t) over the UNION vocabulary, OOV-of-both
    * floor. Exposed for callers that persist/reuse the model. */
  def diffModel(target: UnigramLm, raw: UnigramLm): UnigramLm = {
    val vocab = target.logProbs.keySet ++ raw.logProbs.keySet
    UnigramLm(
      vocab.iterator.map { t =>
        t -> (target.logProbs.getOrElse(t, target.oovLogProb) -
          raw.logProbs.getOrElse(t, raw.oovLogProb))
      }.toMap,
      target.oovLogProb - raw.oovLogProb)
  }

  /** Per-document log importance weight
    * Σ_tokens [log p_target(t) − log p_raw(t)] as a row-local column;
    * null for tokenless documents. Positive ⇒ the document is more
    * typical of the target corpus than of the raw pool. */
  def logWeightCol(text: Column, target: UnigramLm, raw: UnigramLm): Column =
    logWeightFromDiff(text, diffModel(target, raw))

  /** [[logWeightCol]] against a pre-built [[diffModel]] (reuse across
    * many scoring passes — the model is the expensive part). The
    * `unigram_ppl` probe returns exp(−Σd/n); n·(−ln ·) recovers the
    * sum (the exp/ln roundtrip costs 1 ulp, absorbed by any
    * downstream rounding). Caller's session must have graft functions
    * registered ([[graft.expr.GraftFunctions.ensure]]). */
  def logWeightFromDiff(text: Column, diff: UnigramLm): Column = {
    val toks = TextFunctions.tokens(text)
    val n = size(filter(toks, t => t =!= ""))
    val ppl = graft.expr.GraftFunctions.unigramPpl(toks,
      graft.expr.UnigramPerplexity.serialize(diff.logProbs), diff.oovLogProb)
    when(ppl.isNull, lit(null).cast("double")).otherwise(-n.cast("double") * log(ppl))
  }

  /** Gumbel-top-k resampling WITHOUT replacement, P(doc) ∝
    * exp(logW / temperature): key = logW/τ + Gumbel(hash(id, seed)) —
    * the Gumbel-max trick makes sampling-without-replacement one
    * deterministic top-k, so the plan is a TakeOrdered (per-partition
    * top-k, k-bounded driver merge — no global sort). τ → 0
    * degenerates to plain top-k by weight; τ = 1 is the paper's
    * sampled selection. Null-weight (tokenless) docs are excluded.
    * Deterministic in (seed, ids): re-runs select the same rows. */
  def resampleTopK(scored: DataFrame, logWCol: String, idCol: String, k: Int,
                   seed: Long = 0L, temperature: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(temperature > 0, s"temperature must be > 0: $temperature")
    val m = 1L << 52
    // hash-derived uniform in (0,1): the +0.5 keeps u off both ends,
    // so the double log below never sees 0 or 1
    val u = (pmod(xxhash64(col(idCol), lit(seed)), lit(m)).cast("double") + 0.5) / m
    val gumbel = -log(-log(u))
    scored.where(col(logWCol).isNotNull)
      .withColumn("_gkey", col(logWCol) / temperature + gumbel)
      .orderBy(col("_gkey").desc)
      .limit(k)
      .drop("_gkey")
  }

  /** Keep the top `frac` of documents by log weight — the
    * corpus-fraction path: one approx-quantile pass finds the
    * threshold (relErr trades a second scan's exactness for speed;
    * 0.0 is exact), one filter keeps everything at-or-above it. No
    * global sort, no k-sized driver state — this is the shape that
    * survives "select 10% of 100 TB". Ties at the threshold are all
    * kept (the deterministic choice that never splits equal-weight
    * docs). */
  def selectTopFraction(scored: DataFrame, logWCol: String, frac: Double,
                        relErr: Double = 1e-4): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1]: $frac")
    val nonNull = scored.where(col(logWCol).isNotNull)
    // approxQuantile returns EMPTY on zero non-null rows — an empty
    // result frame, not an opaque MatchError
    val qs = nonNull.stat.approxQuantile(logWCol, Array(1.0 - frac), relErr)
    if (qs.isEmpty) nonNull.where(lit(false))
    else nonNull.where(col(logWCol) >= qs(0))
  }
}
