package graft.pipeline

import graft.SparkSpec
import graft.meta.{DataFormat, MetastoreReader, PartitionScheme}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** A transformer instantiable by FQCN from config (pramen-style
  * `transformer.class`). Must be a top-level class with a no-arg ctor. */
class SeedNumbersTransformer extends Transformer {
  def run(r: MetastoreReader, d: LocalDate, o: Map[String, String]): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    (1L to o.getOrElse("n", "5").toLong).map(i => (i, i * 2.0)).toDF("id", "amount")
  }
}

class PipelineConfigSpec extends SparkSpec {
  import spark.implicits._

  private val runDate = LocalDate.parse("2024-06-15")

  test("parse: tables, formats, schemes, jobs, schedules, options") {
    val p = PipelineConfig.parse(
      """# demo pipeline
        |pipeline.name = demo
        |table.src.path = /tmp/x/src
        |table.src.format = csv
        |table.src.partition = month
        |table.out.path = /tmp/x/out
        |table.out.transient = true
        |job.1.name = j1
        |job.1.output = out
        |job.1.transformer = identity
        |job.1.inputs = src
        |job.1.schedule = weekly:1,6
        |job.1.info.date.expr = @runDate - 1
        |job.1.option.input.table = src
        |job.1.option.filter = a > 1
        |""".stripMargin)
    assert(p.name == "demo")
    val src = p.tables.find(_.name == "src").get
    assert(src.format == DataFormat.Csv() && src.scheme == PartitionScheme.ByMonth())
    assert(p.tables.find(_.name == "out").get.transientCache)
    val j = p.jobs.head
    assert(j.name == "j1" && j.outputTable == "out" && j.inputTables == Seq("src"))
    assert(j.schedule == Schedule.Weekly(Seq(java.time.DayOfWeek.MONDAY, java.time.DayOfWeek.SATURDAY)))
    assert(j.infoDateExpr == "@runDate - 1")
    assert(j.options == Map("input.table" -> "src", "filter" -> "a > 1"))
  }

  test("end-to-end: config file -> FQCN seed -> sql aggregate -> metastore") {
    val base = tmpDir("plc_")
    val conf =
      s"""pipeline.name = e2e
         |table.numbers.path = $base/numbers
         |table.totals.path = $base/totals
         |job.1.output = numbers
         |job.1.transformer = graft.pipeline.SeedNumbersTransformer
         |job.1.option.n = 4
         |job.2.output = totals
         |job.2.transformer = sql
         |job.2.inputs = numbers
         |job.2.sql = SELECT CAST(count(*) AS BIGINT) AS n, round(sum(amount), 2) AS total FROM numbers
         |""".stripMargin
    val path = s"$base/pipeline.conf"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), conf.getBytes("UTF-8"))

    val parsed = PipelineConfig.load(path)
    val results = PipelineConfig.runParams(spark, parsed, RunParams.Normal(runDate, newOnly = true))
    assert(results.forall(_.isInstanceOf[TaskResult.Succeeded]), s"results: $results")

    val ms = new graft.meta.Metastore(spark)
    parsed.tables.foreach(ms.register)
    val out = ms.getTable("totals", Some(runDate), Some(runDate)).head()
    assert(out.getAs[Long]("n") == 4)
    assert(out.getAs[Double]("total") == 20.0) // 2+4+6+8
  }

  test("config-declared validation + summary stages run end-to-end by FQCN") {
    val base = tmpDir("plv_")
    val conf =
      s"""pipeline.name = quality
         |table.numbers.path = $base/numbers
         |table.clean.path = $base/clean
         |table.summary.path = $base/summary
         |job.1.output = numbers
         |job.1.transformer = graft.pipeline.SeedNumbersTransformer
         |job.1.option.n = 6
         |job.2.output = clean
         |job.2.transformer = graft.pipeline.ValidationTransformer
         |job.2.inputs = numbers
         |job.2.option.input.table = numbers
         |job.2.option.mode = filter
         |job.2.option.rule.small = amount <= 8
         |job.3.output = summary
         |job.3.transformer = graft.pipeline.SummaryTransformer
         |job.3.inputs = clean
         |job.3.option.input.table = clean
         |job.3.option.value.column = amount
         |""".stripMargin
    val path = s"$base/pipeline.conf"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), conf.getBytes("UTF-8"))

    val parsed = PipelineConfig.load(path)
    val results = PipelineConfig.runParams(spark, parsed, RunParams.Normal(runDate, newOnly = true))
    assert(results.forall(_.isInstanceOf[TaskResult.Succeeded]), s"results: $results")

    val ms = new graft.meta.Metastore(spark)
    parsed.tables.foreach(ms.register)
    // seed amounts 2,4,6,8,10,12: the rule keeps 4 rows
    assert(ms.getTable("clean", Some(runDate), Some(runDate)).count() == 4)
    val sk = ms.getTable("summary", Some(runDate), Some(runDate))
    assert(sk.count() == 1 && sk.columns.contains("value_sketch"))
    graft.expr.GraftFunctions.ensure(spark)
    val p50 = graft.operators.SketchAnalytics.estimateQuantiles(
      sk, Nil, Seq(1.0), "value_sketch").head().getDouble(0)
    assert(p50 == 8.0, s"summary sketch over the VALIDATED rows: max=$p50")
  }

  test("bookkeeping.path makes pipeline state durable across invocations") {
    val base = tmpDir("plbk_")
    val parsed = PipelineConfig.parse(
      s"""bookkeeping.path = $base/journal
         |lock.dir = $base/locks
         |table.numbers.path = $base/numbers
         |job.1.output = numbers
         |job.1.transformer = graft.pipeline.SeedNumbersTransformer
         |""".stripMargin)
    assert(parsed.bookkeepingPath.contains(s"$base/journal"))
    assert(parsed.lockDir.contains(s"$base/locks"))

    // two invocations, each with a FRESH Bookkeeper over the configured
    // path (what the CLI constructs): the second must skip the
    // completed date instead of re-running it
    val r1 = PipelineConfig.runParams(spark, parsed, RunParams.Normal(runDate),
      bookkeeper = new Bookkeeper(parsed.bookkeepingPath), lockDir = parsed.lockDir)
    assert(r1.exists(_.isInstanceOf[TaskResult.Succeeded]), s"first run: $r1")
    val r2 = PipelineConfig.runParams(spark, parsed, RunParams.Normal(runDate),
      bookkeeper = new Bookkeeper(parsed.bookkeepingPath), lockDir = parsed.lockDir)
    assert(r2.nonEmpty && r2.forall(_.isInstanceOf[TaskResult.Skipped]),
      s"durable journal must make the rerun a skip: $r2")
  }

  test("CLI arg parsing: boolean flags never swallow the run date; partial ranges rejected") {
    val (flags, values, pos) = PipelineConfig.parseArgs(
      Seq("--rerun", "2024-05-05"))
    assert(flags == Set("--rerun") && pos == Seq("2024-05-05") && values.isEmpty,
      "a date after a boolean flag must stay positional")
    val (f2, v2, p2) = PipelineConfig.parseArgs(
      Seq("--date-from", "2024-01-01", "--date-to", "2024-01-05", "--force-rerun"))
    assert(v2 == Map("--date-from" -> "2024-01-01", "--date-to" -> "2024-01-05"))
    assert(f2 == Set("--force-rerun") && p2.isEmpty)
    assertThrows[IllegalArgumentException](PipelineConfig.parseArgs(Seq("--date-from")))
  }

  test("timezone + spark.conf session keys parse; bad zone ids fail the load") {
    val parsed = PipelineConfig.parse(
      """pipeline.name = tz
        |timezone = Africa/Johannesburg
        |spark.conf.spark.sql.shuffle.partitions = 7
        |spark.conf.spark.sql.adaptive.enabled = false
        |table.t.path = /tmp/tz_t
        |job.1.transformer = identity
        |job.1.output = t
        |job.1.option.input.table = t
        |""".stripMargin)
    assert(parsed.timezone.contains(java.time.ZoneId.of("Africa/Johannesburg")))
    assert(parsed.sparkSessionConf == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "false"))
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(
      """pipeline.name = tz
        |timezone = Mars/Olympus_Mons
        |table.t.path = /tmp/tz_t
        |job.1.transformer = identity
        |job.1.output = t
        |""".stripMargin))
    assert(e.getMessage.contains("timezone"))
  }

  test("--tables scopes the run; unknown tables fail; outside deps turn passive") {
    val base = tmpDir("seltab_")
    val parsed = PipelineConfig.parse(
      s"""pipeline.name = sel
         |table.a.path = $base/a
         |table.b.path = $base/b
         |table.c.path = $base/c
         |job.1.transformer = identity
         |job.1.output = a
         |job.1.option.input.table = a
         |job.2.transformer = identity
         |job.2.output = b
         |job.2.inputs = a
         |job.2.option.input.table = a
         |job.2.dependency.1.tables = a
         |job.2.dependency.1.date.from = @infoDate
         |job.3.transformer = identity
         |job.3.output = c
         |job.3.option.input.table = b
         |""".stripMargin)
    val scoped = PipelineConfig.selectTables(parsed.jobs, Seq("b"))
    assert(scoped.map(_.outputTable) == Seq("b"))
    // the dependency on 'a' (not produced by the selection) is passive:
    // it must not gate on a parent that didn't run today by design
    assert(scoped.head.dependencies.forall(_.passive))
    val e = intercept[IllegalArgumentException](
      PipelineConfig.selectTables(parsed.jobs, Seq("b", "nope")))
    assert(e.getMessage.contains("nope"))

    // a MIXED dependency splits per table: the selection produces 'a',
    // so the 'a' edge must stay gating while only 'x' turns passive —
    // passivating the whole block would un-order b from a's producer
    val mixed = parsed.jobs.map(j =>
      if (j.outputTable == "b")
        j.copy(dependencies = Seq(Dependency(tables = Seq("a", "x"),
          dateFromExpr = "@infoDate", dateUntilExpr = None,
          optional = false, passive = false,
          triggerUpdates = false, requireAll = false)))
      else j)
    val scopedAB = PipelineConfig.selectTables(mixed, Seq("a", "b"))
    val bDeps = scopedAB.find(_.outputTable == "b").get.dependencies
    assert(bDeps.exists(d => d.tables == Seq("a") && !d.passive),
      s"edge on the produced table must keep gating: $bDeps")
    assert(bDeps.exists(d => d.tables == Seq("x") && d.passive),
      s"edge on the outside table must turn passive: $bDeps")

    // a selection of only lazy jobs would schedule nothing — rejected
    val withLazy = parsed.jobs.map(j =>
      if (j.outputTable == "c") j.copy(isLazy = true) else j)
    val lz = intercept[IllegalArgumentException](
      PipelineConfig.selectTables(withLazy, Seq("c")))
    assert(lz.getMessage.contains("lazy"))
  }

  test("undercover run leaves no bookkeeping trace; a later real run still executes") {
    val base = tmpDir("undercover_")
    def conf(uc: Boolean) =
      s"""pipeline.name = uc
         |table.t.path = $base/t
         |bookkeeping.path = $base/bk
         |undercover = $uc
         |job.1.transformer = identity
         |job.1.output = t
         |job.1.option.input.table = t
         |""".stripMargin
    // seed the table so identity has input
    spark.range(3).toDF("id").write.parquet(s"$base/t/info_date=$runDate")

    val uc = PipelineConfig.parse(conf(uc = true))
    assert(uc.undercover)
    val r1 = PipelineConfig.runParams(spark, uc, RunParams.Normal(runDate),
      bookkeeper = new Bookkeeper(Some(s"$base/bk")))
    assert(r1.exists(_.isInstanceOf[TaskResult.Succeeded]), s"undercover run still runs: $r1")
    assert(new Bookkeeper(Some(s"$base/bk")).all.isEmpty,
      "undercover must leave no bookkeeping trace")

    // the same date runs again for real — no skip-if-done from the
    // undercover pass
    val real = PipelineConfig.parse(conf(uc = false))
    val r2 = PipelineConfig.runParams(spark, real, RunParams.Normal(runDate),
      bookkeeper = new Bookkeeper(Some(s"$base/bk")))
    assert(r2.exists(_.isInstanceOf[TaskResult.Succeeded]), s"real run must not be skipped: $r2")
    assert(new Bookkeeper(Some(s"$base/bk")).all.nonEmpty)
  }

  test("email.if.no.changes suppression and the empty-pipeline guard") {
    def parsedWith(extra: String) = PipelineConfig.parse(
      s"""pipeline.name = n
         |$extra
         |table.t.path = /tmp/nochange_t
         |job.1.transformer = identity
         |job.1.output = t
         |job.1.option.input.table = t
         |""".stripMargin)
    val quiet = parsedWith("notification.email.if.no.changes = false")
    val loud = parsedWith("")
    val info = PipelineInfo("n", "test", runDate, 0L, 1L, None, "succeeded", None)
    val infoFailed = info.copy(status = "failed")
    val nothingRan = Seq(TaskResult.Skipped("j", "already done"))
    val somethingRan = Seq(TaskResult.Succeeded("j", "t", runDate, 5))
    // suppressed ONLY when: flag off AND nothing ran AND not failed
    assert(PipelineConfig.suppressEmail(quiet, info, nothingRan))
    assert(!PipelineConfig.suppressEmail(quiet, info, somethingRan))
    assert(!PipelineConfig.suppressEmail(quiet, infoFailed, nothingRan))
    assert(!PipelineConfig.suppressEmail(loud, info, nothingRan))

    // zero enabled jobs fails the run unless explicitly allowed
    val none = PipelineConfig.parse(
      """pipeline.name = e
        |table.t.path = /tmp/empty_t
        |job.1.disabled = true
        |job.1.transformer = identity
        |job.1.output = t
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](
      PipelineConfig.runParams(spark, none, RunParams.Normal(runDate)))
    assert(e.getMessage.contains("allow.empty.pipeline"))
    val allowed = PipelineConfig.parse(
      """pipeline.name = e
        |allow.empty.pipeline = true
        |table.t.path = /tmp/empty_t
        |job.1.disabled = true
        |job.1.transformer = identity
        |job.1.output = t
        |""".stripMargin)
    assert(PipelineConfig.runParams(spark, allowed, RunParams.Normal(runDate)).isEmpty)
    // the new-only run (`Orchestrator.run`'s params) hits the same guard,
    // and an allowed empty run still applies hadoopConf
    val e2 = intercept[IllegalArgumentException](
      PipelineConfig.runParams(spark, none, RunParams.Normal(runDate, newOnly = true)))
    assert(e2.getMessage.contains("allow.empty.pipeline"))
    val withConf = PipelineConfig.parse(
      """pipeline.name = e
        |allow.empty.pipeline = true
        |hadoop.conf.graft.test.legacy.run = applied
        |table.t.path = /tmp/empty_t
        |job.1.disabled = true
        |job.1.transformer = identity
        |job.1.output = t
        |""".stripMargin)
    assert(PipelineConfig.runParams(spark, withConf,
      RunParams.Normal(runDate, newOnly = true)).isEmpty)
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.legacy.run") == "applied")
  }

  test("hadoop.conf keys parse; effective-config rendering redacts secrets") {
    val parsed = PipelineConfig.parse(
      """pipeline.name = h
        |hadoop.conf.fs.s3a.endpoint = s3.example.com
        |hadoop.option.fs.s3a.path.style.access = true
        |log.effective.config = true
        |table.t.path = /tmp/h_t
        |job.1.transformer = identity
        |job.1.output = t
        |job.1.option.input.table = t
        |""".stripMargin)
    assert(parsed.hadoopConf == Map(
      "fs.s3a.endpoint" -> "s3.example.com",
      "fs.s3a.path.style.access" -> "true"))
    assert(parsed.logEffectiveConfig)
    val rendered = PipelineConfig.renderEffectiveConfig(Map(
      "source.db.jdbc.password" -> "hunter2",
      "bookkeeping.jdbc.api.key" -> "abc123",
      "notification.smtp.host" -> "mail.acme.com",
      "session.token" -> "tok",
      // underscore-styled names (the reference's KEYS_TO_REDACT lists
      // api_key/access_key) must redact like their dotted twins
      "my.api_key" -> "underscore-secret",
      "fs.s3a.access_key" -> "s3-secret"))
    assert(rendered.contains("source.db.jdbc.password = [redacted]"))
    assert(rendered.contains("bookkeeping.jdbc.api.key = [redacted]"))
    assert(rendered.contains("session.token = [redacted]"))
    assert(rendered.contains("my.api_key = [redacted]"))
    assert(rendered.contains("fs.s3a.access_key = [redacted]"))
    assert(rendered.contains("notification.smtp.host = mail.acme.com"))
    assert(!rendered.mkString.contains("hunter2") && !rendered.mkString.contains("abc123"))
    assert(!rendered.mkString.contains("underscore-secret") &&
      !rendered.mkString.contains("s3-secret"))
  }

  test("errors: malformed line, missing path, unknown transformer class") {
    assertThrows[IllegalArgumentException](PipelineConfig.parse("just a line without equals"))
    assertThrows[IllegalArgumentException](PipelineConfig.parse(
      "table.t.format = parquet\njob.1.output = t\njob.1.transformer = identity"))
    assertThrows[ClassNotFoundException](PipelineConfig.runParams(spark,
      PipelineConfig.parse(
        s"""table.t.path = ${tmpDir("plcerr_")}/t
           |job.1.output = t
           |job.1.transformer = com.nowhere.Missing
           |""".stripMargin), RunParams.Normal(runDate, newOnly = true)))
  }
}
