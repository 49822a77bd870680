package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** L40: trainable bag-of-words quality classifier — separable toy
  * corpus learned exactly, native serving agrees with MLlib's own
  * scoring, zero-shuffle serving plan, and the driver-side fit
  * reproduces MLlib's distributed fit. */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def toyModel() = {
    val pos = Seq("good clean prose here", "more good and clean text",
      "good writing stays clean").toDF("text")
    val neg = Seq("spam junk garbage words", "junk spam everywhere now",
      "garbage spam junk pile").toDF("text")
    QualityClassifier.fit(pos, neg, "text", vocabSize = 64, maxIter = 50)
  }

  test("separable samples: discriminative tokens get signed weights; scores separate") {
    graft.expr.GraftFunctions.ensure(spark)
    val m = toyModel()
    assert(m.weights.getOrElse("good", 0.0) > 0, s"'good' must weigh positive: ${m.weights}")
    assert(m.weights.getOrElse("spam", 0.0) < 0, s"'spam' must weigh negative: ${m.weights}")
    val probe = Seq((1L, "good clean material"), (2L, "spam junk flood"), (3L, " "))
      .toDF("id", "text")
    val got = probe.select(col("id"),
        QualityClassifier.scoreCol(col("text"), m).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(got(1L).exists(_ > 0.9), s"positive-like doc must score high: ${got(1L)}")
    assert(got(2L).exists(_ < 0.1), s"negative-like doc must score low: ${got(2L)}")
    assert(got(3L).isEmpty, "tokenless docs score null")
  }

  test("native serving equals MLlib's own probability (cross-engine parity)") {
    graft.expr.GraftFunctions.ensure(spark)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pos = real.where(col("doc_id") % 5 === 0)
    val neg = real.where(col("doc_id") % 5 =!= 0)
    val m = QualityClassifier.fit(pos, neg, "text", vocabSize = 4096, maxIter = 20)
    // rebuild the exact MLlib scoring path against the exported weights
    val vocab = m.weights.keys.toArray.sorted
    val cv = new org.apache.spark.ml.feature.CountVectorizerModel(vocab)
      .setInputCol("_toks").setOutputCol("_features")
    val weightsVec = org.apache.spark.ml.linalg.Vectors.dense(
      vocab.map(m.weights))
    val featured = cv.transform(real.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("_toks")))
    val viaMl = featured.collect().map { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector]("_features")
      val z = m.bias + v.toArray.zip(weightsVec.toArray).map(p => p._1 * p._2).sum
      r.getLong(0) -> 1.0 / (1.0 + math.exp(-z))
    }.toMap
    val viaNative = real.select(col("doc_id"),
        QualityClassifier.scoreCol(col("text"), m).as("p"))
      .where(col("p").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaNative.nonEmpty)
    viaNative.foreach { case (id, p) =>
      assert(math.abs(p - viaMl(id)) < 1e-9, s"doc $id: native=$p mllib=${viaMl(id)}")
    }
  }

  test("serving plan: row-local, zero shuffle, native probe, no MLlib at scoring time") {
    graft.expr.GraftFunctions.ensure(spark)
    val m = toyModel()
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = real.select(col("doc_id"), QualityClassifier.scoreCol(col("text"), m).as("p"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"serving must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"serving must not join:\n$plan")
    assert(plan.contains("unigram_ppl"), s"expected the native probe:\n$plan")
  }

  test("token-free samples are rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fit(Seq(" ").toDF("text"), Seq("  ").toDF("text"), "text")
    }
    assert(e.getMessage.contains("token-free"))
  }

  /** Driver path (the default gate) and MLlib reference path on one sample. */
  private def bothPaths(pos: org.apache.spark.sql.DataFrame, neg: org.apache.spark.sql.DataFrame,
                        vocabSize: Int, maxIter: Int) = {
    def fitWith(gate: Int) = QualityClassifier.fitGated(pos, neg, "text", vocabSize, maxIter,
      regParam = 1e-3, driverFitMaxRows = gate)
    (fitWith(DriverCollect.DriverFitMaxRows), fitWith(0))
  }

  private def assertSameModel(driver: QualityClassifier.LinearTextModel,
                              mllib: QualityClassifier.LinearTextModel): Unit = {
    assert(mllib.weights.nonEmpty && driver.weights.size == mllib.weights.size,
      s"${driver.weights.size} driver weights vs ${mllib.weights.size} MLlib weights")
    val worst = (driver.weights.keySet ++ mllib.weights.keySet).toSeq
      .map(t => t -> math.abs(driver.weights.getOrElse(t, 0.0) - mllib.weights.getOrElse(t, 0.0)))
      .maxBy(_._2)
    assert(worst._2 < 1e-8, s"weight of '${worst._1}' differs by ${worst._2}")
    assert(math.abs(driver.bias - mllib.bias) < 1e-8, s"bias: driver=${driver.bias} mllib=${mllib.bias}")
  }

  test("driver fit reproduces MLlib's fit on real documents (vocab 4096)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (driver, mllib) = bothPaths(real.where(col("doc_id") % 5 === 0),
      real.where(col("doc_id") % 5 =!= 0), vocabSize = 4096, maxIter = 20)
    assertSameModel(driver, mllib)
  }

  test("driver fit reproduces MLlib's fit over thousands of features") {
    val docs = FitScaleProbe.documents(spark, 600)
    val (driver, mllib) = bothPaths(docs.where(col("is_pos")), docs.where(!col("is_pos")),
      vocabSize = 65536, maxIter = 20)
    assert(mllib.weights.size > 1000, s"expected thousands of features, got ${mllib.weights.size}")
    assertSameModel(driver, mllib)
  }

  test("one-class samples give MLlib's degenerate model on both paths") {
    val docs = Seq("good clean prose", "clean good words").toDF("text")
    val none = docs.where(lit(false))
    val (posDriver, posMllib) = bothPaths(docs, none, vocabSize = 64, maxIter = 10)
    assert(posDriver == posMllib && posDriver.weights.isEmpty && posDriver.bias == Double.PositiveInfinity,
      s"positives only: driver=$posDriver mllib=$posMllib")
    val (negDriver, negMllib) = bothPaths(none, docs, vocabSize = 64, maxIter = 10)
    assert(negDriver == negMllib && negDriver.weights.isEmpty && negDriver.bias == Double.NegativeInfinity,
      s"negatives only: driver=$negDriver mllib=$negMllib")
  }

  test("a sample-sized fit launches a handful of Spark jobs, not one per iteration") {
    val docs = FitScaleProbe.documents(spark, 600)
    val (model, jobs) = jobsOf(QualityClassifier.fit(docs.where(col("is_pos")),
      docs.where(!col("is_pos")), "text", maxIter = 20))
    assert(model.weights.contains("graftmarker"))
    assert(jobs.size < 10, s"fit launched ${jobs.size} jobs: $jobs")
  }

  test("neither fit path leaves a persisted RDD behind, failed fits included") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docs = FitScaleProbe.documents(spark, 200)
    val before = persisted
    bothPaths(docs.where(col("is_pos")), docs.where(!col("is_pos")), vocabSize = 256, maxIter = 5)
    intercept[IllegalArgumentException] {
      QualityClassifier.fit(Seq(" ").toDF("text"), Seq("  ").toDF("text"), "text")
    }
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"fits leaked persisted RDDs: $leaked")
  }
}
