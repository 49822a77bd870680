package graftbench

import graft.meta.Metastore
import graft.pipeline._
import org.apache.spark.sql.SparkSession

import java.time.LocalDate

/** curation: one config job running CurationTransformer with every
  * tier enabled, followed by a parquet sink job, over a seeded corpus
  * with planted duplicates, near-duplicates, blocked domains and
  * embedding twins. */
final class Curation(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val shape = Gen.CorpusShape(docs = 2000, dupShare = 0.1, nearShare = 0.1, lowQualityShare = 0.04,
    targetDocs = 200, embedded = 1000, twinShare = 0.1, dim = 16)
  private val day = LocalDate.of(2024, 5, 1)
  val metaRoot = s"${ctx.root}/curation/metastore"
  val sinkRoot = s"${ctx.root}/curation/sinks"
  private val stateDir = s"${ctx.root}/curation/state"
  private var inputBytes = 0L
  private var corpus: Gen.Corpus = _
  private var parsed: PipelineConfig.Parsed = _
  private var keptHash: Option[Long] = None
  val bkTimer = new CallTimer
  override def timers: Map[String, CallTimer] = Map("bookkeeper" -> bkTimer)

  private val inputTables = Seq("docs_raw", "doc_emb", "trusted")

  def setup(rep: Int): Unit = {
    inputTables.foreach(t => Files.delete(s"$metaRoot/$t"))
    corpus = Gen.corpus(spark, ctx.seed, shape)
    parsed = PipelineConfig.parse(config)
    // land the generated corpus in the metastore tables the job reads
    val ms = new Metastore(spark)
    parsed.tables.foreach(ms.register)
    ms.saveTable("docs_raw", day, corpus.docs)
    ms.saveTable("doc_emb", day, corpus.emb)
    ms.saveTable("trusted", day, corpus.target)
    inputBytes = inputTables.map(t => Files.bytesUnder(s"$metaRoot/$t")).sum
  }

  private def config: String = {
    val opts = Seq(
      "input.table" -> "docs_raw", "url.column" -> "url", "url.blocklist" -> corpus.blocked.toSeq.sorted.mkString(","),
      "url.max.per.domain" -> (shape.docs / 20).toString,
      "quality.min" -> "0.3", "line.rules.enabled" -> "true",
      "semdedup.enabled" -> "true", "semdedup.table" -> "doc_emb", "semdedup.id.column" -> "vec_id",
      "semdedup.threshold" -> "0.95", "semdedup.clusters" -> "8",
      "perplexity.enabled" -> "true",
      "dsir.enabled" -> "true", "dsir.target.table" -> "trusted", "dsir.top.fraction" -> "0.9",
      "classifier.enabled" -> "true",
      "split.group.safe" -> "true", "split.group.jaccard" -> "0.8")
    (Seq("pipeline.name = curation", s"bookkeeping.path = $stateDir/bookkeeping") ++
      (inputTables :+ "docs_curated").map(t => s"table.$t.path = $metaRoot/$t") ++
      Seq("sink.parq.type = spark", s"sink.parq.path = $sinkRoot/parq",
        "job.1.name = curate", s"job.1.transformer = ${classOf[CurationTransformer].getName}",
        "job.1.output = docs_curated", s"job.1.inputs = ${inputTables.mkString(", ")}") ++
      opts.map { case (k, v) => s"job.1.option.$k = $v" } ++
      Seq("job.2.name = export_curated", "job.2.type = sink", "job.2.input = docs_curated",
        "job.2.sink = parq", "job.2.option.input.table = docs_curated")).mkString("\n")
  }

  def reset(): Unit = {
    Files.delete(s"$metaRoot/docs_curated"); Files.delete(sinkRoot); Files.delete(stateDir)
  }

  def iteration(traced: Boolean): IterOut = {
    val bk0 = new Bookkeeper(Some(s"$stateDir/bookkeeping"))
    val bk = if (traced) new TimedBookkeeper(bk0, bkTimer) else bk0
    val t0 = System.currentTimeMillis()
    val results = PipelineConfig.runParams(spark, parsed, RunParams.Historical(day, day, RunMode.FillGaps),
      bookkeeper = bk)
    val t1 = System.currentTimeMillis()
    val tasks = EtlBackfill.taskSpans(parsed, bk0.all)
    val failed = results.count(r => r.isInstanceOf[TaskResult.Failed] || r.isInstanceOf[TaskResult.NotReady])
    val skipped = results.count(_.isInstanceOf[TaskResult.Skipped])
    results.collect { case TaskResult.Failed(j, e) => System.err.println(s"[perfbench] task $j failed: $e") }
    val curate = tasks.filter(_.name.startsWith("curate@"))
    val out = curate.map(_.rows).sum.toDouble
    IterOut(curate.map(_.ms), results.size.toLong, (failed + skipped).toLong, corpus.nDocs,
      Seq(("curation", t0, t1)), tasks, (results.size - failed - skipped, failed, skipped),
      Map("operators.docs_in" -> corpus.nDocs.toDouble, "operators.docs_out" -> out,
        "operators.kept_ratio" -> out / corpus.nDocs))
  }

  def check(out: IterOut): CheckOut = {
    val rows = spark.read.parquet(s"$metaRoot/docs_curated").select("doc_id", "split").collect()
    val split = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val kept = split.keySet
    val notes = Seq.newBuilder[String]
    // every planted exact-duplicate group keeps at most one document
    val dupLeft = corpus.exactGroups.count(g => g.count(kept.contains) > 1)
    if (dupLeft > 0) notes += s"$dupLeft planted exact-duplicate groups kept more than one copy"
    // identical embedding twins never both survive semantic dedup
    val twinsLeft = corpus.identicalTwins.count { case (a, b) => kept(a) && kept(b) }
    if (twinsLeft > 0) notes += s"$twinsLeft identical embedding twins both kept"
    // blocked domains are gone
    val blockedLeft = corpus.blockedIds.count(kept.contains)
    if (blockedLeft > 0) notes += s"$blockedLeft documents from blocked domains kept"
    // the kept set is a function of the inputs: stable across iterations
    val h = kept.toSeq.sorted.foldLeft(1125899906842597L)((acc, id) => acc * 31 + id)
    if (keptHash.exists(_ != h)) notes += "kept-id hash changed between iterations"
    if (keptHash.isEmpty) keptHash = Some(h)
    if (kept.isEmpty) notes += "no documents kept"
    // recall of planted near-duplicates: surviving pairs that share a
    // split (group-safe split keeps near-dup groups together)
    val both = corpus.nearPairs.filter { case (a, b) => kept(a) && kept(b) }
    val recall = if (both.isEmpty) 0.0 else both.count { case (a, b) => split(a) == split(b) }.toDouble / both.size
    val n = notes.result()
    CheckOut(5, n.size,
      Files.bytesUnder(s"$metaRoot/docs_curated") + Files.bytesUnder(sinkRoot),
      inputBytes, n,
      Map("operators.neardup_recall" -> recall))
  }
}
