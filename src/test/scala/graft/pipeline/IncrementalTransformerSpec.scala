package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore, MetastoreReader}
import graft.offset.{OffsetInfo, OffsetManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** Incremental transformers: each run consumes only the input delta;
  * offsets advance only on success (re-deliver after failure). */
class IncrementalTransformerSpec extends SparkSpec {
  import spark.implicits._

  private val offInfo = OffsetInfo("event_id", "integral")

  private class DeltaSum(var boom: Boolean = false) extends Transformer {
    def run(r: MetastoreReader, d: LocalDate, o: Map[String, String]): DataFrame = {
      // getCurrentBatch with an offset column == getTableIncremental
      // under an incremental context (the reference's dispatch)
      val delta = r.getCurrentBatch("events_in", Some(offInfo))
      if (boom) throw new RuntimeException("mid-run failure")
      delta.agg(count(lit(1)).as("n"), coalesce(sum("event_id"), lit(0L)).as("id_sum"))
    }
  }

  test("second run sees only new rows; offsets survive only successful runs") {
    val ms = new Metastore(spark)
    val base = tmpDir("inc_t_")
    ms.register(MetaTable("events_in", s"$base/in", scheme = graft.meta.PartitionScheme.NotPartitioned))
    ms.register(MetaTable("delta_sums", s"$base/out", scheme = graft.meta.PartitionScheme.NotPartitioned))
    val om = new OffsetManager()
    val t = new DeltaSum
    def runOnce(day: String) = new Orchestrator(ms, offsetManager = Some(om))
      .runWith(Seq(JobDef("delta", "delta_sums", t, Seq("events_in"))),
        RunParams.Rerun(LocalDate.parse(day)))

    ms.saveTable("events_in", LocalDate.parse("2024-06-01"), (1L to 10L).map(i => (i, s"e$i")).toDF("event_id", "v"))
    assert(runOnce("2024-06-01").head.isInstanceOf[TaskResult.Succeeded])
    val first = ms.getTable("delta_sums").orderBy(desc("id_sum")).head()
    assert(first.getAs[Long]("n") == 10 && first.getAs[Long]("id_sum") == 55)

    // 5 new rows arrive; the next run must process exactly those
    ms.saveTable("events_in", LocalDate.parse("2024-06-02"), (11L to 15L).map(i => (i, s"e$i")).toDF("event_id", "v"))
    assert(runOnce("2024-06-02").head.isInstanceOf[TaskResult.Succeeded])
    val rows = ms.getTable("delta_sums").select("n", "id_sum").as[(Long, Long)].collect().toSet
    assert(rows.contains((5L, 65L)), s"delta run wrong: $rows") // 11+..+15

    // a FAILED run must not advance the offset: rows re-deliver
    ms.saveTable("events_in", LocalDate.parse("2024-06-03"), Seq((16L, "e16")).toDF("event_id", "v"))
    t.boom = true
    assert(runOnce("2024-06-03").head.isInstanceOf[TaskResult.Failed])
    t.boom = false
    assert(runOnce("2024-06-04").head.isInstanceOf[TaskResult.Succeeded])
    val redelivered = ms.getTable("delta_sums").select("n", "id_sum").as[(Long, Long)].collect().toSet
    assert(redelivered.contains((1L, 16L)), s"row 16 must re-deliver after the failed run: $redelivered")
  }

  test("incremental read without an orchestrator context fails clearly") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("t", tmpDir("incerr_") + "/t"))
    assertThrows[IllegalStateException](
      ms.readerFor().getTableIncremental("t", offInfo))
  }
}
