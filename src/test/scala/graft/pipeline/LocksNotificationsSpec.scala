package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore, MetastoreReader}
import org.apache.spark.sql.DataFrame

import java.time.LocalDate

/** Token locks and pipeline notifications. */
class LocksNotificationsSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-06-15")

  test("email validation splits, well-forms, and domain-filters recipient lists") {
    val v = EmailValidation.validate(
      "ops@acme.com, bad-address; second@acme.com ,third@other.io,,x@@y.com",
      allowedDomains = Seq("@Acme.com"))
    assert(v.valid == Seq("ops@acme.com", "second@acme.com"))
    assert(v.invalidFormat == Seq("bad-address", "x@@y.com"))
    assert(v.invalidDomain == Seq("third@other.io"))
    // no allow-list: any well-formed address passes
    val open = EmailValidation.validate("a@b.c; d@e.f")
    assert(open.valid == Seq("a@b.c", "d@e.f") && open.invalidDomain.isEmpty)
  }

  test("email validation admits subdomains of an allowed domain, on dot boundaries only") {
    val v = EmailValidation.validate(
      "ops@mail.acme.com, a@acme.com, evil@evilacme.com, b@acme.com.attacker.io",
      allowedDomains = Seq("acme.com"))
    assert(v.valid == Seq("ops@mail.acme.com", "a@acme.com"))
    assert(v.invalidDomain == Seq("evil@evilacme.com", "b@acme.com.attacker.io"),
      "suffix match must be anchored at a dot boundary")
  }

  test("notification.email.to: parse keeps valid recipients, rejects typos loudly") {
    val good = PipelineConfig.parse(
      """pipeline.name = p
        |notification.email.to = ops@acme.com; oncall@acme.com
        |notification.email.allowed.domains = acme.com
        |""".stripMargin)
    assert(good.notifyEmails == Seq("ops@acme.com", "oncall@acme.com"))
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(
      """pipeline.name = p
        |notification.email.to = ops@acme.com, not-an-address, out@other.io
        |notification.email.allowed.domains = acme.com
        |""".stripMargin))
    assert(e.getMessage.contains("not-an-address"), e.getMessage)
    assert(e.getMessage.contains("out@other.io"), e.getMessage)
  }

  test("token lock: exclusive acquire, release, stale breaking") {
    val dir = tmpDir("lock_")
    val a = new TokenLock(dir, "t1")
    val b = new TokenLock(dir, "t1")
    assert(a.tryAcquire())
    assert(!b.tryAcquire())    // held
    assert(b.isLocked)
    a.release()
    assert(b.tryAcquire())     // free again
    b.release()

    // stale lock (owner crashed) is broken after the timeout
    val c = new TokenLock(dir, "t2", staleMs = 0)
    assert(new TokenLock(dir, "t2").tryAcquire())
    Thread.sleep(5)
    assert(c.tryAcquire(), "stale lock must be breakable")
    c.release()
  }

  test("orchestrator skips a partition locked by another pipeline and releases its own") {
    val lockDir = tmpDir("orlock_")
    val ms = new Metastore(spark)
    ms.register(MetaTable("out", tmpDir("orlockms_") + "/out"))
    val seed = new Transformer {
      def run(r: MetastoreReader, dt: LocalDate, o: Map[String, String]): DataFrame =
        Seq((1L, "x")).toDF("id", "v")
    }
    val jobs = Seq(JobDef("j", "out", seed))

    // foreign lock present -> skipped
    val foreign = TokenLock.forPartition(lockDir, "out", d)
    assert(foreign.tryAcquire())
    val r1 = new Orchestrator(ms, lockDir = Some(lockDir)).run(jobs, d)
    assert(r1.head.isInstanceOf[TaskResult.Skipped])
    foreign.release()

    // free -> runs and releases afterwards
    val r2 = new Orchestrator(ms, lockDir = Some(lockDir)).runWith(jobs, RunParams.Rerun(d))
    assert(r2.head.isInstanceOf[TaskResult.Succeeded])
    assert(!TokenLock.forPartition(lockDir, "out", d).isLocked)
  }

  test("run report renders failure details (class, message, frame) and counts") {
    val boom = new RuntimeException("disk exploded")
    val results = Seq(
      TaskResult.Succeeded("jobA", "t1", java.time.LocalDate.parse("2024-06-01"), 42L),
      TaskResult.Failed("jobB", boom),
      TaskResult.Skipped("jobC", "already succeeded"),
      TaskResult.NotReady("jobD", "input missing"))
    val r = RunReport.build("nightly", results, java.time.LocalDate.parse("2024-06-01"))
    assert(r.succeeded == 1 && r.failed == 1 && r.skipped == 1 && r.notReady == 1)
    assert(r.subject.contains("FAILED") && r.subject.contains("nightly"))
    assert(r.body.contains("RuntimeException: disk exploded"))
    assert(r.body.contains(" at "), "failure line must carry the top stack frame")
    assert(r.body.contains("t1@2024-06-01: 42 records"))
    // transport hand-off happens on pipeline completion
    var sent: Option[RunReport.Report] = None
    val notifier = new ReportingNotifier("nightly", r2 => sent = Some(r2))
    notifier.onPipelineCompleted(results, java.time.LocalDate.parse("2024-06-01"))
    assert(sent.exists(_.failed == 1))
    // an all-green run reports success in the subject
    val green = RunReport.build("nightly", results.take(1), java.time.LocalDate.parse("2024-06-01"))
    assert(green.subject.contains("succeeded"))
  }

  test("notifiers observe per-task and pipeline completion") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("a", tmpDir("nms_") + "/a"))
    ms.register(MetaTable("b", tmpDir("nms_") + "/b"))
    val seed = new Transformer {
      def run(r: MetastoreReader, dt: LocalDate, o: Map[String, String]): DataFrame =
        Seq((1L, "x")).toDF("id", "v")
    }
    val failing = new Transformer {
      def run(r: MetastoreReader, dt: LocalDate, o: Map[String, String]): DataFrame =
        throw new RuntimeException("nope")
    }
    val n = new CollectingNotifier
    new Orchestrator(ms, notifiers = Seq(n)).run(Seq(
      JobDef("ok", "a", seed), JobDef("bad", "b", failing)), d)
    assert(n.tasks.size == 2)
    assert(n.tasks.collect { case s: TaskResult.Succeeded => s.job } == Seq("ok"))
    assert(n.tasks.collect { case f: TaskResult.Failed => f.job } == Seq("bad"))
    assert(n.pipelines.size == 1 && n.pipelines.head.size == 2)
  }
}
