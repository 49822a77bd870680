package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators. Every generator draws only from
  * `SplittableRandom(seed ^ salt)`, so one seed gives byte-identical
  * inputs; the program under test only ever sees the files written
  * here. Each generator also returns what it planted, which is what
  * the output checks compare against. */
object Gen {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ── etl_backfill ──────────────────────────────────────────────────

  /** Shape of the backfill inputs: `days` info dates starting on a
    * Monday, `rowsPerDay` orders a day, and `heavyDays` seeded dates
    * carrying `heavyFactor` times the rows. */
  final case class EtlShape(days: Int, rowsPerDay: Int, heavyDays: Int, heavyFactor: Int) {
    val firstDate: LocalDate = LocalDate.of(2024, 1, 1) // a Monday
    def dates: Seq[LocalDate] = (0 until days).map(i => firstDate.plusDays(i.toLong))
  }

  final case class EtlInputs(ordersCsv: String, paymentsParquet: String, eventsParquet: String)

  private val ordersSchema = StructType(Seq(
    StructField("order_id", LongType), StructField("customer_id", IntegerType),
    StructField("amount_cents", LongType), StructField("status", StringType),
    StructField("txn_date", StringType)))
  private val paymentsSchema = StructType(Seq(
    StructField("order_id", LongType), StructField("paid_cents", LongType),
    StructField("method", StringType), StructField("pay_date", DateType)))
  private val eventsSchema = StructType(Seq(
    StructField("customer_id", IntegerType), StructField("kind", StringType),
    StructField("value", LongType), StructField("ev_date", DateType)))

  def etl(spark: SparkSession, seed: Long, shape: EtlShape, dir: String): EtlInputs = {
    val r = rng(seed, 0xE71L)
    val heavy = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(shape.dates.toList).take(shape.heavyDays).toSet
    val orders = Seq.newBuilder[Row]
    val payments = Seq.newBuilder[Row]
    val events = Seq.newBuilder[Row]
    var orderId = 0L
    val statuses = Array("new", "paid", "void", "paid", "paid")
    val methods = Array("card", "wire", "cash")
    val kinds = Array("view", "click", "cart")
    shape.dates.foreach { d =>
      val n = shape.rowsPerDay * (if (heavy.contains(d)) shape.heavyFactor else 1)
      val sqlDate = java.sql.Date.valueOf(d)
      (0 until n).foreach { _ =>
        orderId += 1
        val cust = r.nextInt(1000)
        orders += Row(orderId, cust, 100L + r.nextInt(50000), statuses(r.nextInt(statuses.length)),
          d.toString)
        if (r.nextInt(10) < 9)
          payments += Row(orderId, 50L + r.nextInt(50000), methods(r.nextInt(methods.length)), sqlDate)
        (0 until r.nextInt(4)).foreach { _ =>
          events += Row(cust, kinds(r.nextInt(kinds.length)), r.nextInt(100).toLong, sqlDate)
        }
      }
    }
    def write(rows: Seq[Row], schema: StructType, fmt: String, path: String): String = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      (if (fmt == "csv") df.write.option("header", "true") else df.write)
        .mode("overwrite").format(fmt).save(path)
      path
    }
    EtlInputs(write(orders.result(), ordersSchema, "csv", s"$dir/orders_csv"),
      write(payments.result(), paymentsSchema, "parquet", s"$dir/payments_parquet"),
      write(events.result(), eventsSchema, "parquet", s"$dir/events_parquet"))
  }

  // ── curation ──────────────────────────────────────────────────────

  /** Corpus shape: `docs` documents of which `dupShare` are exact
    * copies and `nearShare` token-dropout near-copies of earlier
    * documents; `embedded` documents carry an embedding, `twinShare`
    * of those are planted identical or near-identical twins. */
  final case class CorpusShape(docs: Int, dupShare: Double, nearShare: Double, lowQualityShare: Double,
                               targetDocs: Int, embedded: Int, twinShare: Double, dim: Int)

  final case class Corpus(docs: DataFrame, emb: DataFrame, target: DataFrame, nDocs: Long,
                          exactGroups: Seq[Seq[Long]], nearPairs: Seq[(Long, Long)],
                          identicalTwins: Seq[(Long, Long)], blocked: Set[String],
                          blockedIds: Set[Long])

  private val stop = Array("the", "a", "and", "of", "to", "in", "is", "for", "on", "with", "that", "as")

  /** `n` pronounceable pseudo-words, the same for every seed. */
  private def vocab(n: Int): Array[String] =
    Array.tabulate(n) { i =>
      val letters = "bcdfghjklmnprstvwz"
      val vowels = "aeiou"
      val sb = new StringBuilder
      var x = i * 7919
      (0 until 2 + i % 3).foreach { _ =>
        sb.append(letters.charAt(x % letters.length)).append(vowels.charAt((x / 7) % vowels.length))
        x = x / 5 + 13
      }
      sb.toString
    }

  /** Skewed draw over [0, n): rank = u^3 * n puts most mass on small ranks. */
  private def skewed(r: SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (u * u * u * n).toInt)
  }

  private def document(r: SplittableRandom, words: Array[String]): Seq[String] = {
    val nTok = 70 + r.nextInt(80)
    (0 until nTok).map { _ =>
      if (r.nextInt(5) == 0) stop(r.nextInt(stop.length)) else words(skewed(r, words.length))
    }
  }

  private def render(tokens: Seq[String]): String =
    tokens.grouped(14).map(_.mkString(" ") + ".").mkString("\n")

  def corpus(spark: SparkSession, seed: Long, shape: CorpusShape): Corpus = {
    val r = rng(seed, 0xC0C0L)
    val words = vocab(3000)
    val targetWords = words.take(400)
    val domains = Array.tabulate(150)(i => s"site$i.com")
    val blocked = Set("site2.com", "site5.com", "site9.com")
    val nNear = (shape.docs * shape.nearShare).toInt
    val nDup = (shape.docs * shape.dupShare).toInt
    val nBase = shape.docs - nNear - nDup
    val texts = new Array[String](shape.docs)
    val tokens = new Array[Seq[String]](nBase)
    val urls = new Array[String](shape.docs)
    (0 until nBase).foreach { i =>
      if (r.nextDouble() < shape.lowQualityShare) {
        tokens(i) = Seq.empty
        texts(i) = s"BUY NOW!!! CLICK HERE $$$$$$ ${i}!!!"
      } else {
        tokens(i) = document(r, words)
        texts(i) = render(tokens(i))
      }
    }
    def url(i: Int) = s"https://www.${domains(skewed(r, domains.length))}/p/$i"
    (0 until nBase).foreach(i => urls(i) = url(i))
    // exact copies and near copies of base documents with real tokens
    val good = (0 until nBase).filter(i => tokens(i).nonEmpty).toArray
    val exact = scala.collection.mutable.Map.empty[Int, List[Int]]
    (0 until nDup).foreach { j =>
      val id = nBase + j
      val src = good(r.nextInt(good.length))
      texts(id) = texts(src)
      urls(id) = url(id)
      exact(src) = id :: exact.getOrElse(src, Nil)
    }
    val near = Seq.newBuilder[(Long, Long)]
    (0 until nNear).foreach { j =>
      val id = nBase + nDup + j
      val src = good(r.nextInt(good.length))
      // drop ~3% of tokens: 3-shingle Jaccard lands near 0.85
      val kept = tokens(src).zipWithIndex.filter { case (_, k) => k == 0 || r.nextInt(100) >= 3 }.map(_._1)
      texts(id) = render(kept)
      urls(id) = url(id)
      near += (src.toLong -> id.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType)))
    val docRows = (0 until shape.docs).map(i => Row(i.toLong, urls(i), texts(i)))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), docSchema)
    val targetRows = (0 until shape.targetDocs).map { i =>
      val toks = (0 until 80 + r.nextInt(40)).map(_ =>
        if (r.nextInt(5) == 0) stop(r.nextInt(stop.length)) else targetWords(r.nextInt(targetWords.length)))
      Row(i.toLong, "https://www.trusted.org/t/" + i, render(toks))
    }
    val target = spark.createDataFrame(spark.sparkContext.parallelize(targetRows, 2), docSchema)

    // embeddings: random unit-ish vectors; a share are planted twins of
    // an earlier embedded document (identical, or cosine > 0.999)
    val embedded = math.min(shape.embedded, shape.docs)
    val vecs = new Array[Array[Double]](embedded)
    val twins = Seq.newBuilder[(Long, Long)]
    (0 until embedded).foreach { i =>
      if (i > 10 && r.nextDouble() < shape.twinShare) {
        val src = r.nextInt(i)
        val identical = r.nextBoolean()
        vecs(i) = vecs(src).map(x => if (identical) x else x + (r.nextDouble() - 0.5) * 1e-3)
        if (identical) twins += (src.toLong -> i.toLong)
      } else vecs(i) = Array.fill(shape.dim)(r.nextDouble() * 2 - 1)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = false))))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), 4), embSchema)

    val blockedIds = (0 until shape.docs).filter(i => blocked.exists(b => urls(i).contains(s"www.$b/")))
      .map(_.toLong).toSet
    Corpus(docs, emb, target, shape.docs.toLong,
      exact.toSeq.map { case (src, ids) => (src :: ids).map(_.toLong).sorted },
      near.result(), twins.result(), blocked, blockedIds)
  }

  // ── metastore_rw ──────────────────────────────────────────────────

  /** Table shape: `dayTables` day-partitioned tables over `days` dates
    * plus one month-partitioned table, `rowsPerPartition` rows per
    * date and `keys` distinct filter keys. */
  final case class MetaShape(days: Int, rowsPerPartition: Int, keys: Int, monthRowsPerDay: Int) {
    val firstDate: LocalDate = LocalDate.of(2023, 1, 1)
    def dates: Seq[LocalDate] = (0 until days).map(i => firstDate.plusDays(i.toLong))
  }

  /** Logical width of one generated metastore row in bytes: two longs,
    * an int, a date, a long sequence number and an ~11-character string. */
  val MetaRowBytes = 43L

  val metaSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("k", IntegerType), StructField("v", LongType),
    StructField("s", StringType), StructField("seq", LongType), StructField("event_date", DateType)))

  /** Rows of one (table, date) slice, drawn from the table's own
    * stream; `bump` makes corrections and appends differ from the
    * original rows. Returns the rows and their per-key (count, sum). */
  def metaRows(seed: Long, table: Int, date: LocalDate, n: Int, keys: Int, bump: Long,
               seqBase: Long): (Seq[Row], Array[Long], Array[Long]) = {
    val r = rng(seed, (table.toLong << 40) ^ (date.toEpochDay << 8) ^ bump)
    val cnt = new Array[Long](keys)
    val sum = new Array[Long](keys)
    val d = java.sql.Date.valueOf(date)
    val rows = (0 until n).map { i =>
      val k = r.nextInt(keys)
      val v = r.nextInt(1000).toLong
      cnt(k) += 1; sum(k) += v
      Row(date.toEpochDay * 100000L + bump * 10000L + i, k, v, "x" * (4 + r.nextInt(12)),
        if (seqBase < 0) -1L else seqBase + i, d)
    }
    (rows, cnt, sum)
  }
}

/** Small filesystem helpers shared by workloads and checks. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  def bytesUnder(dir: String): Long = walk(dir).map(JFiles.size).sum

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) Seq.empty
    else {
      val s = JFiles.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(f => JFiles.isRegularFile(f) && isData(f)).toList
      } finally s.close()
    }
  }

  /** Data files only: Spark's checksum and marker files are not
    * stored data. */
  private def isData(f: Path): Boolean = {
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
}
