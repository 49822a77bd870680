package graftbench

import graft.meta.{MetaTable, Metastore, PartitionScheme}
import graft.offset.{OffsetInfo, OffsetManager, OffsetStore}
import graft.sources.{IngestionJob, SparkSource}
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate
import java.util.SplittableRandom

/** metastore_rw: one client in a closed loop of seeded metastore
  * operations — range reads, latest reads, listings, incremental
  * appends and single-day overwrites — against two day-partitioned
  * tables and one month-partitioned table. */
final class MetastoreRw(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val shape = Gen.MetaShape(days = 60, rowsPerPartition = 300, keys = 8, monthRowsPerDay = 1000)
  private val appendRows = 200
  val metaRoot = s"${ctx.root}/meta/metastore"
  val sinkRoot = s"${ctx.root}/meta/none"
  private val landing = s"${ctx.root}/meta/landing"
  private val staged = s"${ctx.root}/meta/staged"
  private val offsetsDir = s"${ctx.root}/meta/offsets"
  private val dayTables = Seq("events_a", "events_b")
  private val monthTable = "snapshots_m"
  private val months: Seq[LocalDate] = (0 until 4).map(i => shape.firstDate.plusMonths(i.toLong))

  private var ms: Metastore = _
  /** (table, date) -> per-key counts and sums the generator knows. */
  private val counts = scala.collection.mutable.Map.empty[(String, LocalDate), Array[Long]]
  private val sums = scala.collection.mutable.Map.empty[(String, LocalDate), Array[Long]]
  private var ops: SplittableRandom = _
  private val nextBatch = scala.collection.mutable.Map.empty[String, Int]
  private val stagedBatches = 16
  private var bump = 1L
  private var storedRows = 0L
  val getTimer = new CallTimer
  val commitTimer = new CallTimer
  override def timers: Map[String, CallTimer] = Map("offset_get" -> getTimer, "offset_commit" -> commitTimer)
  private var offsets: OffsetStore = _
  private var offsetsTraced: OffsetStore = _

  private def table(name: String, scheme: PartitionScheme) = MetaTable(name, s"$metaRoot/$name", scheme = scheme)

  def setup(rep: Int): Unit = {
    Seq(metaRoot, landing, staged, offsetsDir).foreach(Files.delete)
    counts.clear(); sums.clear(); nextBatch.clear(); bump = 1L; storedRows = 0L
    ms = new Metastore(spark)
    dayTables.foreach(t => ms.register(table(t, PartitionScheme.ByDay)))
    ms.register(table(monthTable, PartitionScheme.ByMonth()))
    dayTables.zipWithIndex.foreach { case (t, ti) =>
      val rows = shape.dates.flatMap { d =>
        val (rs, c, s) = Gen.metaRows(ctx.seed, ti, d, shape.rowsPerPartition, shape.keys, 0L, -1L)
        counts((t, d)) = c; sums((t, d)) = s
        rs
      }
      storedRows += rows.size
      ms.appendTable(t, spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), Gen.metaSchema),
        "event_date")
    }
    months.foreach { m =>
      val (rs, c, s) = Gen.metaRows(ctx.seed, 9, m, shape.monthRowsPerDay, shape.keys, 0L, -1L)
      counts((monthTable, m)) = c; sums((monthTable, m)) = s
      storedRows += rs.size
      ms.saveTable(monthTable, m, spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), Gen.metaSchema))
    }
    offsets = new OffsetManager(Some(offsetsDir))
    offsetsTraced = new TimedOffsetStore(offsets, getTimer, commitTimer)
    ops = new SplittableRandom(ctx.seed * 31 + 7)
    // landing batches for incremental appends are generated up front;
    // an append publishes the table's next batch into its landing
    // directory, so each table's source only ever grows
    // one slice per (table, batch), so each directory holds one file
    val batches = for (t <- dayTables; b <- 0 until stagedBatches) yield (t, b)
    val rows = batches.flatMap { case (t, b) => landingBatch(t, b)._1.map(r => Row.fromSeq(r.toSeq ++ Seq(t, b))) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, batches.size),
        Gen.metaSchema.add("table", org.apache.spark.sql.types.StringType)
          .add("batch", org.apache.spark.sql.types.IntegerType))
      .write.mode("overwrite").partitionBy("table", "batch").parquet(staged)
    dayTables.foreach(t => nextBatch(t) = 0)
  }

  /** Move a staged batch's single data file into the table's landing
    * directory, where the incremental source will find it. */
  private def publish(t: String, b: Int): Unit = {
    import java.nio.file.{Files => J, Paths}
    val part = J.list(Paths.get(s"$staged/table=$t/batch=$b"))
    val file = try part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get() finally part.close()
    J.createDirectories(Paths.get(s"$landing/$t"))
    J.move(file, Paths.get(s"$landing/$t/batch_$b.parquet"))
  }

  private def landingBatch(t: String, b: Int) =
    Gen.metaRows(ctx.seed, 100 + dayTables.indexOf(t), shape.dates.last, appendRows, shape.keys, 1000L + b,
      1L + b.toLong * appendRows)

  /** One uncounted operation of each kind. */
  override def warmup(): Unit = {
    runOps(Seq("range", "range_month", "latest", "list", "append", "overwrite"), offsets); ()
  }

  def reset(): Unit = ()

  private def expect(t: String, from: LocalDate, to: LocalDate, key: Option[Int]): (Long, Long) = {
    val ds = counts.keys.filter(x => x._1 == t && !x._2.isBefore(from) && !x._2.isAfter(to)).map(_._2)
    ds.foldLeft((0L, 0L)) { case ((n, s), d) =>
      key match {
        case Some(k) => (n + counts((t, d))(k), s + sums((t, d))(k))
        case None => (n + counts((t, d)).sum, s + sums((t, d)).sum)
      }
    }
  }

  private def dates(t: String): Seq[LocalDate] = counts.keys.filter(_._1 == t).map(_._2).toSeq.sortBy(_.toEpochDay)

  private def pickDate(): LocalDate = shape.dates(ops.nextInt(shape.dates.size))

  def iteration(traced: Boolean): IterOut = {
    runOps(Mix, if (traced) offsetsTraced else offsets)
  }

  /** A fixed mix of 30 per batch, run in seeded order: 45% range reads
    * (one on the month table), 20% latest reads, 15% listings, 20%
    * writes (incremental appends and single-day overwrites). */
  private val Mix = Seq.fill(12)("range") ++ Seq("range_month") ++ Seq.fill(6)("latest") ++ Seq.fill(5)("list") ++
    Seq.fill(3)("append") ++ Seq.fill(3)("overwrite")

  private def runOps(mix: Seq[String], store: OffsetStore): IterOut = {
    val reads = Seq.newBuilder[Double]
    val appends = Seq.newBuilder[Double]
    val spans = Seq.newBuilder[(String, Long, Long)]
    var failed = 0L
    var rows = 0L
    // range lengths come from a fixed set too, so every batch scans
    // the same amount of data whatever the seed
    val lengths = scala.collection.mutable.Queue(
      Seq(1, 2, 3, 5, 7, 10, 14, 21, 30, 40, 50, 60).map(l => (ops.nextLong(), l)).sortBy(_._1).map(_._2): _*)
    val order = mix.map(k => (ops.nextLong(), k)).sortBy(_._1).map(_._2)
    order.foreach { drawn =>
      val kind = if (drawn == "range_month") "range" else drawn
      val t = if (drawn == "range_month") monthTable else dayTables(ops.nextInt(2))
      // draw every random choice before timing starts
      val len = if (drawn == "range") lengths.dequeueFirst(_ => true).getOrElse(30) else 60
      // a range starts early enough to end inside the table
      val d = if (kind == "range") shape.dates(ops.nextInt(shape.dates.size - len + 1)) else pickDate()
      val key = ops.nextInt(shape.keys)
      val listKind = ops.nextInt(2)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val ok = scala.util.Try[(Boolean, Long)](kind match {
        case "range" =>
          val to = d.plusDays(len.toLong - 1)
          val r = ms.getTable(t, Some(d), Some(to)).where(col("k") === key)
            .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
          val got = (r.getLong(0), r.getLong(1))
          reads += (System.nanoTime() - n0) / 1e6
          (got == expect(t, d, to, Some(key)), got._1)
        case "latest" =>
          val r = ms.getLatest(t, Some(d)).agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
          val got = (r.getLong(0), r.getLong(1))
          reads += (System.nanoTime() - n0) / 1e6
          val latest = dates(t).filter(!_.isAfter(d)).last
          (got == expect(t, latest, latest, None), got._1)
        case "list" if listKind == 0 =>
          val got = ms.listAvailableDates(t)
          (got == dates(t), 0L)
        case "list" =>
          val from = d.minusDays(len.toLong)
          val until = d.minusDays(len.toLong / 2)
          val got = ms.readerFor().isDataAvailable(t, Some(from), Some(until))
          (got == dates(t).exists(x => !x.isBefore(from) && !x.isAfter(until)), 0L)
        case "append" if nextBatch(t) < stagedBatches =>
          val b = nextBatch(t)
          nextBatch(t) = b + 1
          publish(t, b)
          val a0 = System.nanoTime()
          val source = new SparkSource(spark, s"$landing/$t", "parquet",
            offsetInfo = Some(OffsetInfo("seq", "integral")))
          val stats = new IngestionJob(source, ms, store).ingestIncremental(t, d)
          appends += (System.nanoTime() - a0) / 1e6
          val (_, c, s) = landingBatch(t, b)
          (0 until shape.keys).foreach { k => counts((t, d))(k) += c(k); sums((t, d))(k) += s(k) }
          storedRows += stats.recordCount
          (stats.recordCount == appendRows, stats.recordCount)
        case _ =>
          bump += 1
          val (rs, c, s) = Gen.metaRows(ctx.seed, dayTables.indexOf(t), d, shape.rowsPerPartition, shape.keys,
            bump, -1L)
          val stats = ms.saveTable(t, d, spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), Gen.metaSchema),
            SaveMode.Overwrite)
          storedRows += rs.size - counts((t, d)).sum
          counts((t, d)) = c; sums((t, d)) = s
          (stats.recordCount == rs.size, stats.recordCount)
      })
      spans += ((kind, t0, System.currentTimeMillis()))
      ok match {
        case scala.util.Success((true, n)) => rows += n
        case scala.util.Success((false, _)) =>
          failed += 1
          System.err.println(s"[perfbench] $kind on $t at $d returned a wrong answer")
        case scala.util.Failure(e) =>
          failed += 1
          System.err.println(s"[perfbench] $kind on $t at $d failed: $e")
      }
    }
    val readMs = reads.result()
    val appendMs = appends.result()
    def pct(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
    IterOut(readMs, order.size.toLong, failed, rows, spans.result(), Nil, (0L, 0L, 0L),
      Map("meta.read_p50_ms" -> pct(readMs, 50), "meta.read_p90_ms" -> pct(readMs, 90),
        "meta.append_p50_ms" -> pct(appendMs, 50)))
  }

  def check(out: IterOut): CheckOut =
    CheckOut(0, 0, Files.bytesUnder(metaRoot), storedRows * Gen.MetaRowBytes, Nil)
}
