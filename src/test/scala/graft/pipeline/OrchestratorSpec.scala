package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore, MetastoreReader}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

/** M9–M11: transformer API, DAG orchestration, bookkeeper skip-if-done. */
class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private val runDate = LocalDate.parse("2024-06-15")

  private def newMs(tables: String*): Metastore = {
    val ms = new Metastore(spark)
    val base = tmpDir("orch_")
    tables.foreach(t => ms.register(MetaTable(t, s"$base/$t")))
    ms
  }

  private class SeedTransformer(n: Int, log: ConcurrentLinkedQueue[String], name: String)
      extends Transformer {
    def run(r: MetastoreReader, d: LocalDate, o: Map[String, String]): DataFrame = {
      log.add(name)
      (1 to n).map(i => (i.toLong, name)).toDF("id", "src")
    }
  }

  private class SumTransformer(input: String, log: ConcurrentLinkedQueue[String], name: String)
      extends Transformer {
    def run(r: MetastoreReader, d: LocalDate, o: Map[String, String]): DataFrame = {
      log.add(name)
      r.getTable(input, Some(d), Some(d)).agg(sum("id").as("total"))
    }
  }

  test("M10 dependencies run before dependents; result flows through the metastore") {
    val ms = newMs("seed", "agg")
    val log = new ConcurrentLinkedQueue[String]()
    val results = new Orchestrator(ms).run(Seq(
      JobDef("agg_job", "agg", new SumTransformer("seed", log, "agg_job"), Seq("seed")),
      JobDef("seed_job", "seed", new SeedTransformer(4, log, "seed_job"))), runDate)
    assert(results.collect { case s: TaskResult.Succeeded => s.job }.toSet ==
      Set("seed_job", "agg_job"))
    assert(log.toArray.toSeq == Seq("seed_job", "agg_job")) // dep ran first
    assert(ms.getTable("agg", Some(runDate), Some(runDate))
      .select("total").as[Long].head() == 10)
  }

  test("M10b multiple jobs per table: rejected by default, allowed by the flag, dependents wait on ALL producers") {
    val log = new ConcurrentLinkedQueue[String]()
    def jobs(ms: Metastore) = Seq(
      // two producers APPEND-shaped into one table on different dates
      // (the supported shape: disjoint date spaces)
      JobDef("prod_a", "shared", new SeedTransformer(2, log, "prod_a"),
        infoDateExpr = "@runDate"),
      JobDef("prod_b", "shared", new SeedTransformer(3, log, "prod_b"),
        infoDateExpr = "@runDate - 1"),
      JobDef("agg_job", "agg", new SumTransformer("shared", log, "agg_job"), Seq("shared")))

    // default: duplicate outputs are a config error
    val e = intercept[IllegalArgumentException] {
      new Orchestrator(newMs("shared", "agg")).run(jobs(null), runDate)
    }
    assert(e.getMessage.contains("shared"))

    // flag on: both producers run, the dependent runs after BOTH
    val ms = newMs("shared", "agg")
    log.clear()
    val results = new Orchestrator(ms, enableMultipleJobsPerTable = true)
      .run(jobs(ms), runDate)
    assert(results.collect { case s: TaskResult.Succeeded => s.job }.toSet ==
      Set("prod_a", "prod_b", "agg_job"), s"results: $results")
    val order = log.toArray.toSeq.map(_.toString)
    assert(order.last == "agg_job", s"dependent must run after all producers: $order")
    assert(order.toSet == Set("prod_a", "prod_b", "agg_job"))

    // duplicate job NAMES stay rejected even with the flag
    val dupName = intercept[IllegalArgumentException] {
      new Orchestrator(newMs("shared"), enableMultipleJobsPerTable = true).run(Seq(
        JobDef("same", "shared", new SeedTransformer(1, log, "same")),
        JobDef("same", "shared", new SeedTransformer(1, log, "same"))), runDate)
    }
    assert(dupName.getMessage.contains("Duplicate job name"))
  }

  test("M11 bookkeeper skips already-succeeded (table, infoDate); rerunSucceeded overrides") {
    val ms = newMs("seed")
    val log = new ConcurrentLinkedQueue[String]()
    val bk = new Bookkeeper()
    val jobs = Seq(JobDef("seed_job", "seed", new SeedTransformer(2, log, "seed_job")))
    val orch = new Orchestrator(ms, bk)
    orch.run(jobs, runDate)
    orch.run(jobs, runDate) // second run must skip
    assert(log.size == 1)
    assert(bk.isAlreadyRan("seed", runDate))
    assert(bk.latestSuccess("seed").contains(runDate))
    // a forced re-run of the completed date runs it again
    new Orchestrator(ms, bk).runWith(jobs, RunParams.Rerun(runDate))
    assert(log.size == 2)
  }

  test("run honours expected.delay.days: it writes the runDate - delay slot") {
    val ms = newMs("late")
    val log = new ConcurrentLinkedQueue[String]()
    val rs = new Orchestrator(ms).run(Seq(
      JobDef("j", "late", new SeedTransformer(1, log, "j"), expectedDelayDays = 2)), runDate)
    assert(rs.collect { case s: TaskResult.Succeeded => s.infoDate } == Seq(runDate.minusDays(2)),
      rs.toString)
    assert(ms.listAvailableDates("late") == Seq(runDate.minusDays(2)))
  }

  test("failed dependency causes dependent to be skipped, not run") {
    val ms = newMs("boom", "down")
    val log = new ConcurrentLinkedQueue[String]()
    val failing = new Transformer {
      def run(r: MetastoreReader, d: LocalDate, o: Map[String, String]): DataFrame =
        throw new RuntimeException("kaboom")
    }
    val results = new Orchestrator(ms).run(Seq(
      JobDef("boom_job", "boom", failing),
      JobDef("down_job", "down", new SumTransformer("boom", log, "down_job"), Seq("boom"))), runDate)
    val byJob = results.map(r => r.job -> r).toMap
    assert(byJob("boom_job").isInstanceOf[TaskResult.Failed])
    assert(byJob("down_job").isInstanceOf[TaskResult.Skipped])
    assert(log.isEmpty)
  }

  test("M9 validate gates: NotReady blocks run; schedule gates by run date") {
    val ms = newMs("out")
    val log = new ConcurrentLinkedQueue[String]()
    val needsOpt = new Transformer {
      override def validate(r: MetastoreReader, d: LocalDate, o: Map[String, String]): Reason =
        if (o.contains("k")) Reason.Ready else Reason.NotReady("missing k")
      def run(r: MetastoreReader, d: LocalDate, o: Map[String, String]): DataFrame = {
        log.add("ran"); Seq((1L, "x")).toDF("id", "src")
      }
    }
    val r1 = new Orchestrator(ms).run(Seq(JobDef("j", "out", needsOpt)), runDate)
    assert(r1.head.isInstanceOf[TaskResult.NotReady] && log.isEmpty)

    val r2 = new Orchestrator(ms).run(Seq(
      JobDef("j", "out", needsOpt, options = Map("k" -> "1"),
        schedule = Schedule.Weekly(Seq(java.time.DayOfWeek.MONDAY)))), runDate) // Saturday
    // a schedule-disabled day: exactly one Skipped, nothing written
    assert(r2.size == 1 && r2.head.isInstanceOf[TaskResult.Skipped] && log.isEmpty, r2.toString)
    assert(ms.listAvailableDates("out").isEmpty)
  }

  test("infoDateExpr derives the info date from @runDate") {
    val ms = newMs("out")
    val log = new ConcurrentLinkedQueue[String]()
    new Orchestrator(ms).run(Seq(
      JobDef("j", "out", new SeedTransformer(1, log, "j"), infoDateExpr = "@runDate - 1")), runDate)
    assert(ms.listAvailableDates("out") == Seq(runDate.minusDays(1)))
  }

  test("cycles and duplicate outputs rejected up front") {
    val ms = newMs("a", "b")
    val idT = new IdentityTransformer
    assertThrows[IllegalArgumentException](new Orchestrator(ms).run(Seq(
      JobDef("ja", "a", idT, Seq("b")), JobDef("jb", "b", idT, Seq("a"))), runDate))
    assertThrows[IllegalArgumentException](new Orchestrator(ms).run(Seq(
      JobDef("j1", "a", idT), JobDef("j2", "a", idT)), runDate))
  }

  test("bookkeeper journal persists across restarts") {
    val path = tmpDir("bk_") + "/journal"
    val bk1 = new Bookkeeper(Some(path))
    bk1.record(RunRecord("t", runDate, 42, "succeeded", 1, 2))
    bk1.record(RunRecord("t", runDate.plusDays(1), 0, "failed", 3, 4))
    val bk2 = new Bookkeeper(Some(path))
    assert(bk2.isAlreadyRan("t", runDate))
    assert(!bk2.isAlreadyRan("t", runDate.plusDays(1)))
    assert(bk2.get("t", runDate).map(_.recordCount).contains(42L))
  }

  test("a bookkeeping journal path that is a regular file fails at construction") {
    val path = tmpDir("bkf_") + "/journal"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), "not a journal\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](new Bookkeeper(Some(path)))
    assert(e.getMessage.contains(path), e.getMessage)
  }

  test("two concurrent bookkeepers on shared storage lose no records") {
    val path = tmpDir("bkc_") + "/journal"
    val bkA = new Bookkeeper(Some(path))
    val bkB = new Bookkeeper(Some(path))
    val n = 100
    val threads = Seq(
      new Thread(() => (0 until n).foreach(i =>
        bkA.record(RunRecord("ta", runDate.plusDays(i.toLong), i.toLong, "succeeded", i.toLong, i.toLong + 1)))),
      new Thread(() => (0 until n).foreach(i =>
        bkB.record(RunRecord("tb", runDate.plusDays(i.toLong), i.toLong, "succeeded", i.toLong, i.toLong + 1)))))
    threads.foreach(_.start()); threads.foreach(_.join())
    // a fresh reader sees every record from both writers, none corrupt
    val fresh = new Bookkeeper(Some(path))
    (0 until n).foreach { i =>
      assert(fresh.get("ta", runDate.plusDays(i.toLong)).map(_.recordCount).contains(i.toLong))
      assert(fresh.get("tb", runDate.plusDays(i.toLong)).map(_.recordCount).contains(i.toLong))
    }
    assert(fresh.all.size == 2 * n)
  }
}
