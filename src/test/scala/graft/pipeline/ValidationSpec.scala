package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore}
import graft.operators.Validate
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** Rule-based validation: annotate/split/report semantics incl. the
  * null-verdict-is-a-violation contract, and the transformer's three
  * modes with the circuit breaker through the orchestrator. */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-05-01")

  private def rules = Seq(
    Validate.Rule("has_id", col("id").isNotNull),
    Validate.Rule("pos_amount", col("amount") > 0),
    Validate.Rule("known_kind", col("kind").isin("a", "b")))

  private def data = Seq(
    (Some(1L), Some(10.0), "a"),   // valid
    (Some(2L), Some(-5.0), "a"),   // pos_amount
    (None, Some(3.0), "b"),        // has_id
    (Some(4L), None, "zz")         // pos_amount (null verdict!) + known_kind
  ).toDF("id", "amount", "kind")

  test("annotate: violations array lists failed rules; null verdict counts as violation") {
    val out = Validate.annotate(data, rules)
      .collect().map(r => Option(r.get(0)).map(_.toString).getOrElse("null") ->
        r.getSeq[String](3).toList).toMap
    assert(out("1") == Nil)
    assert(out("2") == List("pos_amount"))
    assert(out("null") == List("has_id"))
    assert(out("4") == List("pos_amount", "known_kind"),
      "a NULL rule verdict must quarantine, not pass")
  }

  test("split routes exactly the bad rows; report counts per rule in one aggregate") {
    val (good, bad) = Validate.split(data, rules)
    assert(good.count() == 1 && bad.count() == 3)
    assert(!good.columns.contains("violations") && bad.columns.contains("violations"))
    val rep = Validate.report(data, rules)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep == Map("has_id" -> ((1L, 4L)), "pos_amount" -> ((2L, 4L)),
      "known_kind" -> ((1L, 4L))))
  }

  test("transformer modes: annotate, filter, breaker trips and breaker holds") {
    val ms = new Metastore(spark)
    val base = tmpDir("valid_")
    ms.register(MetaTable("raw", s"$base/raw"))
    ms.register(MetaTable("ok", s"$base/ok"))
    ms.saveTable("raw", d, data)
    def run(opts: Map[String, String]): TaskResult =
      new Orchestrator(ms).runWith(Seq(JobDef(
        "validate", "ok", new ValidationTransformer, Seq("raw"),
        options = opts ++ Map("input.table" -> "raw",
          "rule.has_id" -> "id IS NOT NULL",
          "rule.pos_amount" -> "amount > 0",
          "rule.known_kind" -> "kind IN ('a','b')"))), RunParams.Rerun(d)).head

    assert(run(Map("mode" -> "annotate")).isInstanceOf[TaskResult.Succeeded])
    assert(ms.getTable("ok", Some(d), Some(d)).columns.contains("violations"))

    assert(run(Map("mode" -> "filter")).isInstanceOf[TaskResult.Succeeded])
    assert(ms.getTable("ok", Some(d), Some(d)).count() == 1)

    // 3 of 4 bad: breaker at 0.5 trips (task fails, partition re-delivers)
    val tripped = run(Map("mode" -> "fail", "max.bad.fraction" -> "0.5"))
    assert(tripped.isInstanceOf[TaskResult.Failed], tripped.toString)
    // breaker at 0.8 holds: valid rows load
    assert(run(Map("mode" -> "fail", "max.bad.fraction" -> "0.8"))
      .isInstanceOf[TaskResult.Succeeded])
    assert(ms.getTable("ok", Some(d), Some(d)).count() == 1)
  }

  test("validation: missing rules and unparseable SQL are NotReady at validate time") {
    val ms = new Metastore(spark)
    val t = new ValidationTransformer
    val r = ms.readerFor()
    assert(t.validate(r, d, Map("input.table" -> "x"))
      .isInstanceOf[Reason.NotReady])
    assert(t.validate(r, d, Map("input.table" -> "x", "rule.broken" -> "((("))
      .isInstanceOf[Reason.NotReady])
    assert(t.validate(r, d,
      Map("input.table" -> "x", "rule.ok" -> "id IS NOT NULL")) == Reason.Ready)
  }
}
