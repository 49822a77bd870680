package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore}
import graft.operators.NgramJaccard
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** SqlTransformer + remaining operator corners. */
class SqlTransformerSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-06-15")

  test("SqlTransformer runs SQL over temp-viewed inputs with @infoDate substituted") {
    val ms = new Metastore(spark)
    val base = tmpDir("sqlt_")
    ms.register(MetaTable("sales", s"$base/sales"))
    ms.register(MetaTable("daily", s"$base/daily"))
    ms.saveTable("sales", d, Seq((1L, 10.0), (2L, 20.0), (3L, 12.5)).toDF("id", "amount"))

    val sql = new SqlTransformer(
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       round(sum(amount), 2) AS total,
        |       @infoDate AS for_date
        |FROM sales""".stripMargin, Seq("sales"))
    val results = new Orchestrator(ms).run(Seq(
      JobDef("agg", "daily", sql, Seq("sales"))), d)
    assert(results.head.isInstanceOf[TaskResult.Succeeded])
    val out = ms.getTable("daily", Some(d), Some(d)).head()
    assert(out.getAs[Long]("n") == 3)
    assert(out.getAs[Double]("total") == 42.5)
    assert(out.getAs[java.sql.Date]("for_date").toLocalDate == d)
  }

  test("SqlTransformer under dateParallelism = 4: every day holds its own slice") {
    val ms = new Metastore(spark)
    val base = tmpDir("sqlt_par_")
    ms.register(MetaTable("src_day", s"$base/src_day"))
    ms.register(MetaTable("dst_day", s"$base/dst_day"))
    val days = (1 to 8).map(i => LocalDate.parse(f"2024-07-0$i%d"))
    days.foreach(day => ms.saveTable("src_day", day, Seq(day.toString).toDF("v")))
    val job = JobDef("copy", "dst_day",
      new SqlTransformer("SELECT v, @infoDate AS for_date FROM src_day", Seq("src_day")),
      Seq("src_day"))
    (1 to 3).foreach { _ =>
      val results = new Orchestrator(ms).runWith(Seq(job),
        RunParams.Historical(days.head, days.last, RunMode.ForceRun), dateParallelism = 4)
      assert(results.forall(_.isInstanceOf[TaskResult.Succeeded]), results)
      days.foreach { day =>
        val got = ms.getTable("dst_day", Some(day), Some(day)).select("v").as[String].collect()
        assert(got.toSeq == Seq(day.toString), s"$day holds ${got.mkString(",")}")
      }
    }
  }

  test("SqlTransformer leaves no temp view named after its inputs") {
    val ms = new Metastore(spark)
    val base = tmpDir("sqlt_views_")
    ms.register(MetaTable("view_src", s"$base/view_src"))
    ms.saveTable("view_src", d, Seq((1L, 2.0)).toDF("id", "amount"))
    val out = new SqlTransformer("SELECT id, amount * 2 AS twice FROM view_src",
      Seq("view_src")).run(ms.readerFor(), d, Map.empty)
    assert(!spark.catalog.tableExists("view_src"), "the input view must be dropped")
    assert(out.select("twice").as[Double].collect().toSeq == Seq(4.0),
      "the returned frame must not need the dropped view")
  }

  test("selfSimilarPairs: end-to-end jaccard threshold over a tiny corpus") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // identical
      (3L, "alpha beta gamma delta epsilon theta"),  // near
      (4L, "one two three four five six")
    ).toDF("doc_id", "text")
    val pairs = NgramJaccard.selfSimilarPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("SparkSource timestamp and string info-date windows") {
    import graft.sources.SparkSource
    val dir = tmpDir("srcwin_")
    Seq(
      (java.sql.Timestamp.valueOf("2024-06-01 08:00:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-06-01 23:59:59"), "b"),
      (java.sql.Timestamp.valueOf("2024-06-02 00:00:00"), "c")
    ).toDF("ts", "v").withColumn("day_str", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").parquet(dir)

    val tsSrc = new SparkSource(spark, dir, infoDateColumn = Some("ts"), infoDateType = "timestamp")
    assert(tsSrc.getRecordCount(LocalDate.parse("2024-06-01"), LocalDate.parse("2024-06-01")) == 2)

    val strSrc = new SparkSource(spark, dir, infoDateColumn = Some("day_str"), infoDateType = "string")
    assert(strSrc.getData(LocalDate.parse("2024-06-02"), LocalDate.parse("2024-06-02")).df
      .select("v").as[String].collect().toSeq == Seq("c"))

    assertThrows[IllegalArgumentException](
      new SparkSource(spark, dir, infoDateColumn = Some("ts"), infoDateType = "epoch")
        .getRecordCount(d, d))
  }
}
