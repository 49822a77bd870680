package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Trainable bag-of-words quality classifier — the fastText-style
 * linear filter every major curation pipeline runs (GPT-3's
 * WebText-likeness LR, LLaMA's wiki-reference classifier,
 * RefinedWeb's quality tiers): positives = a trusted target sample,
 * negatives = the raw pool, model = logistic regression over token
 * counts. Complements [[Dsir]]: DSIR reweights by generative
 * likelihood ratio, this DISCRIMINATES — the trained weights find
 * whatever separates the samples.
 *
 * Train/serve split (the 100 TB story): training runs ON SAMPLES
 * (logistic regression over a capped deterministic vocabulary —
 * bounded iterations, bounded vocab; a linear text classifier
 * saturates at ~100k docs, so the sample IS the right input, the
 * PQ-codebook discipline). Serving never touches MLlib: the learned
 * coefficients export as a plain (token → weight) map and every doc
 * scores ROW-LOCALLY through the native `unigram_ppl` hash probe —
 * the logit is a pure per-token sum, exactly the shape the probe
 * already computes — so the scoring scan is zero-shuffle, zero-join,
 * whole-stage codegen, and the 100 TB corpus never materializes a
 * feature vector.
 *
 * Where the fit runs: a labeled sample of at most [[DriverFitMaxRows]]
 * rows is collected once, featurized, and solved on the driver; a
 * larger one runs MLlib's distributed LBFGS. At curation sizes
 * (thousands of docs) MLlib launches one Spark job per LBFGS
 * iteration, and per-job latency, not the data, sets the fit's wall
 * time. The driver path is not an approximation: it evaluates MLlib's
 * own binomial objective (features scaled by 1/σ with virtual
 * centering, mean log-loss, the L2 penalty reverse-standardized
 * because `standardization = false`, intercept unpenalized and started
 * at log(n₁/n₀)) and runs the same breeze LBFGS with the same memory
 * and tolerance, so both paths take the same steps; the models differ
 * only by the order of floating-point sums (QualityClassifierSpec pins
 * 1e-8).
 */
object QualityClassifier {

  /** Exported linear model: per-token logit weights (each token
    * OCCURRENCE adds its weight — bag-of-words counts), unknown
    * tokens contribute 0, plus the intercept. */
  final case class LinearTextModel(weights: Map[String, Double], bias: Double)

  /** Labeled-sample rows (positives + negatives) at or below which
    * [[fit]] solves on the driver. The driver then holds at most 10k
    * sparse (index, count) vectors over the capped vocabulary: one
    * (int, double) pair per distinct in-vocabulary token of each doc,
    * about 120 MB for 10k docs of 1,000 distinct tokens (twice that
    * while the collected rows are converted), plus a few dense
    * vocabSize-long arrays for the optimizer. */
  val DriverFitMaxRows: Int = 10000

  /**
   * Train logistic regression on positive/negative text samples.
   * The vocabulary is the top `vocabSize` tokens of the union sample
   * by document frequency with the deterministic (df desc, token asc)
   * boundary; `regParam` is L2 (keeps rare-token weights sane).
   */
  def fit(positives: DataFrame, negatives: DataFrame, textCol: String,
          vocabSize: Int = 65536, maxIter: Int = 50,
          regParam: Double = 1e-3): LinearTextModel =
    fitGated(positives, negatives, textCol, vocabSize, maxIter, regParam, DriverFitMaxRows)

  /** [[fit]] with the driver-fit gate as an argument; 0 always runs
    * MLlib's distributed fit, the reference the driver path must
    * reproduce. */
  private[operators] def fitGated(positives: DataFrame, negatives: DataFrame, textCol: String,
                                  vocabSize: Int, maxIter: Int, regParam: Double,
                                  driverFitMaxRows: Int): LinearTextModel = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    // the tokenized SAMPLE feeds two consumers — the vocabulary job and
    // the featurize+fit — and is bounded by the train/serve contract
    // (samples, never the corpus), so persist it across both instead of
    // tokenizing the texts twice (r20; MLlib persists only its own
    // featurized instances, not this upstream)
    val labeled = positives.select(TextFunctions.tokens(col(textCol)).as("_toks"), lit(1.0).as("_label"))
      .unionByName(negatives.select(TextFunctions.tokens(col(textCol)).as("_toks"), lit(0.0).as("_label")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic capped vocabulary by document frequency — the
      // fitUnigram discipline (never a full-vocabulary collect)
      val vocab = labeled
        .select(explode(array_distinct(filter(col("_toks"), t => t =!= ""))).as("_tok"))
        .groupBy("_tok").agg(count(lit(1)).as("_df"))
        .orderBy(col("_df").desc, col("_tok"))
        .limit(vocabSize)
        .select("_tok")
        .as(org.apache.spark.sql.Encoders.STRING)
        .collect()
      require(vocab.nonEmpty, "cannot fit a classifier on token-free samples")
      val featured = new org.apache.spark.ml.feature.CountVectorizerModel(vocab)
        .setInputCol("_toks").setOutputCol("_features")
        .transform(labeled)
      // one limit-guarded collect decides the path and fetches the
      // sample together (the DupGroups fast-path shape); an oversized
      // sample costs this one bounded collect before the distributed fit
      val sample =
        if (driverFitMaxRows <= 0) None
        else Some(featured.select("_label", "_features").limit(driverFitMaxRows + 1).collect())
          .filter(_.length <= driverFitMaxRows)
      val (coefs, intercept) = sample match {
        case Some(rows) =>
          driverFit(rows.map(r => (r.getDouble(0), r.getAs[Vector](1).toSparse)),
            vocab.length, maxIter, regParam)
        case None =>
          val model = new org.apache.spark.ml.classification.LogisticRegression()
            .setFeaturesCol("_features").setLabelCol("_label")
            .setMaxIter(maxIter).setRegParam(regParam).setStandardization(false)
            .fit(featured)
          (model.coefficients.toArray, model.intercept)
      }
      LinearTextModel(
        vocab.iterator.zipWithIndex.collect {
          case (t, i) if coefs(i) != 0.0 => t -> coefs(i)
        }.toMap,
        intercept)
    } finally { labeled.unpersist(); () }
  }

  /** MLlib's binomial `LogisticRegression` fit (fitIntercept,
    * standardization = false, L2 only) solved in driver memory:
    * (coefficients, intercept), the same model the distributed fit
    * returns up to the order of floating-point sums. */
  private def driverFit(rows: Array[(Double, SparseVector)], numFeatures: Int,
                        maxIter: Int, regParam: Double): (Array[Double], Double) = {
    val n = rows.length
    val n1 = rows.count(_._1 > 0)
    val n0 = n - n1
    // one label only: MLlib skips the solve and returns zero
    // coefficients with an infinite intercept (+∞ when the label
    // histogram has two slots, i.e. only positives; −∞ otherwise)
    if (n0 == 0 || n1 == 0)
      return (new Array[Double](numFeatures),
        if (n0 == 0) Double.PositiveInfinity else Double.NegativeInfinity)

    // unbiased per-feature mean and std over all n rows (implicit zeros
    // included), as MLlib's summarizer reports them
    val mean = new Array[Double](numFeatures)
    val stored = new Array[Int](numFeatures)
    rows.foreach { case (_, v) => v.foreachActive { (j, x) => mean(j) += x; stored(j) += 1 } }
    var j = 0
    while (j < numFeatures) { mean(j) /= n; j += 1 }
    val m2 = Array.tabulate(numFeatures)(j => (n - stored(j)) * mean(j) * mean(j))
    rows.foreach { case (_, v) => v.foreachActive { (j, x) => val d = x - mean(j); m2(j) += d * d } }
    val std = m2.map(s => math.sqrt(s / (n - 1)))
    val invStd = std.map(s => if (s != 0.0) 1.0 / s else 0.0)
    val scaledMean = Array.tabulate(numFeatures)(j => invStd(j) * mean(j))

    // the training set in MLlib's scaled space, as CSR arrays
    val labels = rows.map(_._1)
    val starts = rows.scanLeft(0)(_ + _._2.indices.length)
    val idx = rows.flatMap(_._2.indices)
    val xs = rows.flatMap { case (_, v) => v.indices.zip(v.values).map { case (j, x) => x * invStd(j) } }

    // the mean log-loss plus the L2 penalty over w = (c_1..c_d, b);
    // the margin centers each scaled feature without densifying it
    val objective = new breeze.optimize.DiffFunction[breeze.linalg.DenseVector[Double]] {
      def calculate(w: breeze.linalg.DenseVector[Double]): (Double, breeze.linalg.DenseVector[Double]) = {
        val c = w.data
        var offset = c(numFeatures)
        var j = 0
        while (j < numFeatures) { offset -= c(j) * scaledMean(j); j += 1 }
        val grad = new Array[Double](numFeatures + 1)
        var loss = 0.0
        var multSum = 0.0
        var i = 0
        while (i < n) {
          var margin = offset
          var k = starts(i)
          while (k < starts(i + 1)) { margin += c(idx(k)) * xs(k); k += 1 }
          loss += (if (labels(i) > 0) log1pExp(-margin) else log1pExp(-margin) + margin)
          val mult = 1.0 / (1.0 + math.exp(-margin)) - labels(i)
          k = starts(i)
          while (k < starts(i + 1)) { grad(idx(k)) += mult * xs(k); k += 1 }
          multSum += mult
          i += 1
        }
        j = 0
        while (j < numFeatures) { grad(j) -= multSum * scaledMean(j); j += 1 }
        grad(numFeatures) = multSum
        j = 0
        while (j <= numFeatures) { grad(j) /= n; j += 1 }
        var penalty = 0.0
        j = 0
        while (j < numFeatures) {
          if (std(j) != 0.0) {
            val t = c(j) / (std(j) * std(j))
            penalty += c(j) * t
            grad(j) += regParam * t
          }
          j += 1
        }
        (loss / n + 0.5 * regParam * penalty, breeze.linalg.DenseVector(grad))
      }
    }

    val init = new Array[Double](numFeatures + 1)
    init(numFeatures) = math.log(n1.toDouble / n0)
    val states = new breeze.optimize.LBFGS[breeze.linalg.DenseVector[Double]](maxIter, 10, 1e-6)
      .iterations(new breeze.optimize.CachedDiffFunction(objective), breeze.linalg.DenseVector(init))
    var last = states.next()
    while (states.hasNext) last = states.next()
    val solution = last.x.data
    // undo the virtual centering, then map back to unscaled features
    var intercept = solution(numFeatures)
    j = 0
    while (j < numFeatures) { intercept -= solution(j) * scaledMean(j); j += 1 }
    (Array.tabulate(numFeatures)(j => if (std(j) != 0.0) solution(j) / std(j) else 0.0), intercept)
  }

  /** log(1 + eˣ) without overflow (MLlib's `log1pExp`). */
  private def log1pExp(x: Double): Double =
    if (x > 0) x + math.log1p(math.exp(-x)) else math.log1p(math.exp(x))

  /** Logit (pre-sigmoid score) as a row-local column: bias +
    * Σ_tokens weight(t); null for tokenless docs. The per-token sum
    * rides the native `unigram_ppl` probe (probe = exp(−Σw/n), so
    * Σw = −n·ln(probe) — the 1-ulp exp/ln roundtrip, absorbed by any
    * downstream rounding). Caller's session needs graft functions
    * registered ([[graft.expr.GraftFunctions.ensure]]). */
  def logitCol(text: Column, model: LinearTextModel): Column = {
    val toks = TextFunctions.tokens(text)
    val n = size(filter(toks, t => t =!= ""))
    val probe = graft.expr.GraftFunctions.unigramPpl(toks,
      graft.expr.UnigramPerplexity.serialize(model.weights), 0.0)
    when(probe.isNull, lit(null).cast("double"))
      .otherwise(lit(model.bias) - n.cast("double") * log(probe))
  }

  /** P(positive) — sigmoid of [[logitCol]]; null for tokenless docs. */
  def scoreCol(text: Column, model: LinearTextModel): Column = {
    val z = logitCol(text, model)
    lit(1.0) / (lit(1.0) + exp(-z))
  }
}
