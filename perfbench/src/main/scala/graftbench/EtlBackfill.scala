package graftbench

import graft.meta.MetastoreReader
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.{DayOfWeek, LocalDate}

/** The user transformer of the backfill: a 7-day rollup of the daily
  * sales table, run on Sundays behind a `require.all` window. */
final class WeeklyRollup extends Transformer {
  override def run(ms: MetastoreReader, infoDate: LocalDate, options: Map[String, String]): DataFrame =
    ms.getTable("daily_sales", Some(infoDate.minusDays(6)), Some(infoDate))
      .groupBy("segment")
      .agg(sum("n_orders").as("n_orders"), sum("gross_cents").as("gross_cents"),
        sum("paid_cents").as("paid_cents"), count(lit(1)).as("days"))
}

/** etl_backfill: a config-file pipeline of 3 ingestions, 3
  * transformations and 2 sinks, run as a fill-gaps backfill over the
  * generated date range from empty state every iteration. */
final class EtlBackfill(ctx: Ctx) extends Workload {
  import EtlBackfill._
  private val spark: SparkSession = ctx.spark
  private val shape = Gen.EtlShape(days = 7, rowsPerDay = 120, heavyDays = 1, heavyFactor = 5)
  private var inputs: Gen.EtlInputs = _
  private var inDir: String = _
  private var parsed: PipelineConfig.Parsed = _
  private var expected: Map[String, Map[String, (Long, Long)]] = Map.empty
  val metaRoot = s"${ctx.root}/etl/metastore"
  val sinkRoot = s"${ctx.root}/etl/sinks"
  private val stateDir = s"${ctx.root}/etl/state"
  val bkTimer = new CallTimer
  override def timers: Map[String, CallTimer] = Map("bookkeeper" -> bkTimer)

  def setup(rep: Int): Unit = {
    if (inDir != null) Files.delete(inDir)
    inDir = s"${ctx.root}/etl/input_$rep"
    inputs = Gen.etl(spark, ctx.seed, shape, inDir)
    parsed = PipelineConfig.parse(config(inputs))
  }

  private def config(in: Gen.EtlInputs): String = {
    val dailySql =
      "SELECT CAST(o.customer_id AS INT) % 16 AS segment, count(*) AS n_orders, " +
        "sum(CAST(o.amount_cents AS BIGINT)) AS gross_cents, sum(coalesce(p.paid_cents, 0)) AS paid_cents, " +
        "sum(coalesce(e.n_events, 0)) AS n_events " +
        "FROM raw_orders o LEFT JOIN raw_payments p ON CAST(o.order_id AS BIGINT) = p.order_id " +
        "LEFT JOIN (SELECT customer_id, count(*) AS n_events FROM raw_events GROUP BY customer_id) e " +
        "ON CAST(o.customer_id AS INT) = e.customer_id GROUP BY 1"
    val tables = Seq("raw_orders", "raw_payments", "raw_events", "daily_sales", "orders_clean", "weekly_rollup")
    (Seq(
      "pipeline.name = etl_backfill",
      s"bookkeeping.path = $stateDir/bookkeeping") ++
      tables.map(t => s"table.$t.path = $metaRoot/$t") ++ Seq(
      "source.orders.type = spark",
      s"source.orders.path = ${in.ordersCsv}",
      "source.orders.format = csv",
      "source.orders.option.header = true",
      "source.orders.info.date.column = txn_date",
      "source.orders.info.date.type = string",
      s"source.payments.path = ${in.paymentsParquet}",
      "source.payments.info.date.column = pay_date",
      s"source.events.path = ${in.eventsParquet}",
      "source.events.info.date.column = ev_date",
      "sink.parq.type = spark",
      s"sink.parq.path = $sinkRoot/parq",
      "sink.csv.type = localcsv",
      s"sink.csv.path = $sinkRoot/csv",
      "job.1.name = ingest_orders", "job.1.type = ingestion", "job.1.source = orders", "job.1.output = raw_orders",
      "job.2.name = ingest_payments", "job.2.type = ingestion", "job.2.source = payments",
      "job.2.output = raw_payments",
      "job.3.name = ingest_events", "job.3.type = ingestion", "job.3.source = events", "job.3.output = raw_events",
      "job.4.name = daily_sales", "job.4.transformer = sql", "job.4.output = daily_sales",
      "job.4.inputs = raw_orders, raw_payments, raw_events", s"job.4.sql = $dailySql",
      "job.5.name = orders_clean", "job.5.transformer = identity", "job.5.output = orders_clean",
      "job.5.inputs = raw_orders", "job.5.option.input.table = raw_orders",
      "job.5.transformation.1.col = amount_eur",
      "job.5.transformation.1.expr = CAST(amount_cents AS BIGINT) DIV 100",
      "job.5.transformation.2.col = status", "job.5.transformation.2.expr = upper(status)",
      "job.5.filter.1 = status <> 'VOID'",
      "job.5.columns = order_id, customer_id, amount_eur, status",
      "job.6.name = weekly_rollup", s"job.6.transformer = ${classOf[WeeklyRollup].getName}",
      "job.6.output = weekly_rollup", "job.6.inputs = daily_sales", "job.6.schedule = weekly:7",
      "job.6.dependency.1.tables = daily_sales", "job.6.dependency.1.date.from = @infoDate - 6",
      "job.6.dependency.1.require.all = true",
      "job.7.name = export_orders", "job.7.type = sink", "job.7.input = orders_clean", "job.7.sink = parq",
      "job.7.option.input.table = orders_clean",
      "job.8.name = export_sales", "job.8.type = sink", "job.8.input = daily_sales", "job.8.sink = csv",
      "job.8.option.input.table = daily_sales")).mkString("\n")
  }

  /** Expected per-(table, date) digests from a plain DataFrame replay
    * over the generated files; no graft code is involved. */
  override def prepareChecks(): Unit = {
    val orders = spark.read.option("header", "true").csv(inputs.ordersCsv)
    val payments = spark.read.parquet(inputs.paymentsParquet)
    val events = spark.read.parquet(inputs.eventsParquet)
    val o = orders.select(col("order_id").cast("long").as("oid"), col("customer_id").cast("int").as("cust"),
      col("amount_cents").cast("long").as("amt"), col("txn_date").as("d"))
    val p = payments.select(col("order_id").as("pid"), col("paid_cents"), col("pay_date").cast("string").as("pd"))
    val e = events.groupBy(col("ev_date").cast("string").as("ed"), col("customer_id").as("ecust"))
      .agg(count(lit(1)).as("n_events"))
    val daily = o.join(p, o("oid") === p("pid") && o("d") === p("pd"), "left")
      .join(e, o("cust") === e("ecust") && o("d") === e("ed"), "left")
      .groupBy(col("d"), (col("cust") % 16).as("segment"))
      .agg(count(lit(1)).as("n_orders"), sum("amt").as("gross_cents"),
        sum(coalesce(col("paid_cents"), lit(0L))).as("paid_cents"),
        sum(coalesce(col("n_events"), lit(0L))).as("n_events"))
      .cache()
    val clean = orders.withColumn("amount_eur", (col("amount_cents").cast("long") / 100).cast("long"))
      .withColumn("status", upper(col("status"))).where(col("status") =!= "VOID")
    val sundays = shape.dates.filter(_.getDayOfWeek == DayOfWeek.SUNDAY)
    val weekly = sundays.map { s =>
      daily.where(col("d").between(s.minusDays(6).toString, s.toString))
        .groupBy("segment").agg(sum("n_orders").as("n_orders"), sum("gross_cents").as("gross_cents"),
          sum("paid_cents").as("paid_cents"), count(lit(1)).as("days"))
        .withColumn("d", lit(s.toString))
    }.reduce(_ unionByName _)
    expected = Map(
      "raw_orders" -> digest(orders, "txn_date", OrdersCols),
      "raw_payments" -> digest(payments, "pay_date", PaymentsCols),
      "raw_events" -> digest(events, "ev_date", EventsCols),
      "daily_sales" -> digest(daily, "d", DailyCols),
      "orders_clean" -> digest(clean, "txn_date", CleanCols),
      "weekly_rollup" -> digest(weekly, "d", WeeklyCols),
      "export_orders" -> digest(clean, "txn_date", CleanCols),
      "export_sales" -> digest(daily, "d", DailyCols))
    daily.unpersist()
  }

  def reset(): Unit = { Files.delete(metaRoot); Files.delete(sinkRoot); Files.delete(stateDir) }

  def iteration(traced: Boolean): IterOut = {
    val bk0 = new Bookkeeper(Some(s"$stateDir/bookkeeping"))
    val bk = if (traced) new TimedBookkeeper(bk0, bkTimer) else bk0
    val t0 = System.currentTimeMillis()
    val results = PipelineConfig.runParams(spark, parsed,
      RunParams.Historical(shape.dates.head, shape.dates.last, RunMode.FillGaps), bookkeeper = bk)
    val t1 = System.currentTimeMillis()
    val tasks = taskSpans(parsed, bk0.all)
    val failed = results.count(r => r.isInstanceOf[TaskResult.Failed] || r.isInstanceOf[TaskResult.NotReady])
    val skipped = results.count(_.isInstanceOf[TaskResult.Skipped])
    val landed = tasks.filter(_.kind == "source").map(_.rows).sum
    IterOut(tasks.map(_.ms), results.size.toLong, (failed + skipped).toLong, landed,
      Seq(("backfill", t0, t1)), tasks, (results.size - failed - skipped, failed, skipped), Map.empty)
  }

  def check(out: IterOut): CheckOut = {
    def ms(t: String) = spark.read.parquet(s"$metaRoot/$t")
    val actual = Map(
      "raw_orders" -> digest(ms("raw_orders"), "info_date", OrdersCols),
      "raw_payments" -> digest(ms("raw_payments"), "info_date", PaymentsCols),
      "raw_events" -> digest(ms("raw_events"), "info_date", EventsCols),
      "daily_sales" -> digest(ms("daily_sales"), "info_date", DailyCols),
      "orders_clean" -> digest(ms("orders_clean"), "info_date", CleanCols),
      "weekly_rollup" -> digest(ms("weekly_rollup"), "info_date", WeeklyCols),
      "export_orders" -> digest(spark.read.parquet(s"$sinkRoot/parq/orders_clean"), "info_date", CleanCols),
      "export_sales" -> digest(csvByDate(s"$sinkRoot/csv/daily_sales"), "d", DailyCols))
    val bad = expected.keys.toSeq.sorted.filter(t => actual.get(t) != expected.get(t))
    val taskCountOk = out.tasks.size == expectedTasks
    CheckOut(expected.size + 1, bad.size + (if (taskCountOk) 0 else 1),
      Files.bytesUnder(metaRoot) + Files.bytesUnder(sinkRoot),
      Files.bytesUnder(inDir),
      bad.map(t => s"$t: output differs from the reference replay") ++
        (if (taskCountOk) Nil else Seq(s"ran ${out.tasks.size} tasks, expected $expectedTasks")))
  }

  private def expectedTasks: Int =
    7 * shape.days + shape.dates.count(_.getDayOfWeek == DayOfWeek.SUNDAY)

  /** The localcsv sink writes one directory per date; read them back as
    * one frame with the date as a column. */
  private def csvByDate(dir: String): DataFrame =
    shape.dates.filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$dir/$d")))
      .map(d => spark.read.option("header", "true").csv(s"$dir/$d").withColumn("d", lit(d.toString)))
      .reduce(_ unionByName _)
}

object EtlBackfill {
  val OrdersCols = Seq("order_id", "customer_id", "amount_cents", "status")
  val PaymentsCols = Seq("order_id", "paid_cents", "method")
  val EventsCols = Seq("customer_id", "kind", "value")
  val DailyCols = Seq("segment", "n_orders", "gross_cents", "paid_cents", "n_events")
  val CleanCols = Seq("order_id", "customer_id", "amount_eur", "status")
  val WeeklyCols = Seq("segment", "n_orders", "gross_cents", "paid_cents", "days")

  /** A stable hash of a frame's rows restricted to `cols`, grouped by
    * `key`: (count, sum of row hashes mod a prime). Both sides of the
    * output check use this one spelling. */
  def digest(df: DataFrame, key: String, cols: Seq[String]): Map[String, (Long, Long)] = {
    df.select(col(key).cast("string").as("_k"),
        pmod(xxhash64(concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*)),
          lit(1000000007L)).as("_h"))
      .groupBy("_k").agg(count(lit(1)).as("n"), sum("_h").as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** Bookkeeper run records as task spans. Job kind and the
    * orchestrator's job-group tag follow from the parsed config. */
  def taskSpans(parsed: PipelineConfig.Parsed, records: Seq[RunRecord]): Seq[TaskSpan] = {
    val byOutput = parsed.jobs.map(j => j.outputTable -> j).toMap
    records.sortBy(_.startedAtMs).flatMap { r =>
      byOutput.get(r.table).map { j =>
        val kind =
          if (j.sink.isDefined) "sink"
          else if (j.transformer.isInstanceOf[IngestionTransformer]) "source"
          else "transform"
        TaskSpan(s"${j.name}@${r.infoDate}", kind, s"graft-task-${j.name}-${r.infoDate}-${r.startedAtMs}",
          r.startedAtMs, r.finishedAtMs, r.recordCount)
      }
    }
  }
}
