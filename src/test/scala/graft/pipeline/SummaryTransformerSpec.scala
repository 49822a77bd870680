package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore}
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** Daily summary sketches through the metastore + question-time range
  * merges: the dashboard never rescans the data table. */
class SummaryTransformerSpec extends SparkSpec {
  import spark.implicits._

  private val days = Seq("2024-05-01", "2024-05-02", "2024-05-03").map(LocalDate.parse)

  test("three daily runs land sketch rows; range questions merge them correctly") {
    val ms = new Metastore(spark)
    val base = tmpDir("summary_")
    ms.register(MetaTable("ev", s"$base/ev"))
    ms.register(MetaTable("ev_summary", s"$base/ev_summary"))

    // day d: users in the overlapping window [250d, 250d+300) — unions
    // over ranges differ by range, which is what makes naive per-day
    // count sums wrong and sketch union right
    days.zipWithIndex.foreach { case (d, di) =>
      val rows = (di * 250 until di * 250 + 300)
        .map(u => (s"u$u", (u + 100 * di).toDouble, s"c${u % 3}"))
      ms.saveTable("ev", d, rows.toDF("user", "value", "cat"))
      val res = new Orchestrator(ms).runWith(Seq(JobDef(
        "summarize", "ev_summary", new SummaryTransformer, Seq("ev"),
        options = Map("input.table" -> "ev",
          "distinct.column" -> "user", "value.column" -> "value",
          "item.column" -> "cat", "item.k" -> "3"))), RunParams.Rerun(d))
      assert(res.head.isInstanceOf[TaskResult.Succeeded], res.head.toString)
    }

    val range = ms.getTable("ev_summary", Some(days.head), Some(days.last))
    assert(range.count() == 3, "one summary row per day")

    // distinct users over the whole range vs the exact answer
    val est = SummaryQueries.distinctOverRange(range, Nil).as[Long].head()
    val exact = ms.getTable("ev", Some(days.head), Some(days.last))
      .select("user").distinct().count()
    assert(math.abs(est - exact) <= 0.03 * exact,
      s"distinct estimate inside the lgK=12 envelope: $est vs $exact")

    // p50 over the range within the rank-error envelope of the exact median
    val p50 = SummaryQueries.quantilesOverRange(range, Nil, Seq(0.5)).head().getDouble(0)
    val values = ms.getTable("ev", Some(days.head), Some(days.last))
      .select("value").as[Double].collect().sorted
    val trueMedian = values(values.length / 2)
    assert(math.abs(p50 - trueMedian) <= (values.max - values.min) * 0.1,
      s"p50=$p50 vs median=$trueMedian")

    // top categories over the range == exact counts (capacity >> 3 cats)
    val top = SummaryQueries.topItemsOverRange(range, Nil, k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ms.getTable("ev", Some(days.head), Some(days.last))
      .groupBy("cat").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == want, s"$top vs $want")

    // a 2-day sub-range answers differently (real pruned-range read)
    val sub = ms.getTable("ev_summary", Some(days.head), Some(days(1)))
    val subEst = SummaryQueries.distinctOverRange(sub, Nil).as[Long].head()
    val subExact = ms.getTable("ev", Some(days.head), Some(days(1)))
      .select("user").distinct().count()
    assert(math.abs(subEst - subExact) <= 0.03 * subExact, s"$subEst vs $subExact")
    assert(subEst < est, "the narrower range must see fewer users")
  }

  test("validation: input table and at least one summary column required") {
    val ms = new Metastore(spark)
    val t = new SummaryTransformer
    val reader = ms.readerFor()
    assert(t.validate(reader, days.head, Map.empty).isInstanceOf[Reason.NotReady])
    assert(t.validate(reader, days.head,
      Map("input.table" -> "x")).isInstanceOf[Reason.NotReady])
    assert(t.validate(reader, days.head,
      Map("input.table" -> "x", "value.column" -> "v")) == Reason.Ready)
  }
}
