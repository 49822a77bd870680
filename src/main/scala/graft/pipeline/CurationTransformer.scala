package graft.pipeline

import graft.functions.TextFunctions
import graft.meta.MetastoreReader
import graft.operators.{Dedup, DupGroups, LmScore, Sampling, SemDeDup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.time.LocalDate

/**
 * End-to-end training-data curation as ONE config-runnable pipeline
 * stage: URL blocklist → domain cap → exact dedup → semantic dedup →
 * quality → repetition → line rules → perplexity → DSIR → classifier →
 * split labels (optional tiers only when enabled; survivors also get
 * language, token and fingerprint columns). Each stage is a narrow
 * declarative transform; the optional stages are config-keyed so one
 * pipeline definition covers both the cheap daily run and the full
 * curation pass. [[CurationFunnel]] runs the same chain to report
 * what each stage dropped.
 *
 * Options:
 *   `input.table`   (required) metastore table with (id, text) columns
 *   `id.column`     default "doc_id"
 *   `text.column`   default "text"
 *   `quality.min`   default 0.3  — drop docs scoring below
 *   `max.repetition` default 0.5 — drop docs with more repeated lines
 *   `split.weights` default "0.9,0.05,0.05" (train/val/test)
 *   `split.bucket`  default "default" (xxhash64); "replayable" swaps in
 *                   the exact-integer multiplicative hash so split
 *                   membership replays in ANSI SQL (oracle-gated runs)
 *
 * Optional perplexity tier (L35, CCNet-style):
 *   `perplexity.enabled`         default false — adds a `perplexity` column
 *   `perplexity.reference.table` metastore table with trusted text to fit
 *                                the unigram model on; default: the
 *                                deduped input corpus itself
 *   `perplexity.max`             optional — drop docs scoring ABOVE (the
 *                                CCNet tail cut); docs with no tokens
 *                                carry a null score and are kept (the
 *                                quality filter owns degenerate text)
 *
 * Optional semantic dedup (L34, SemDeDup):
 *   `semdedup.enabled`          default false
 *   `semdedup.table`            (required when enabled) metastore table
 *                               carrying (id, embedding) for the corpus
 *   `semdedup.embedding.column` default "embedding"
 *   `semdedup.id.column`        default: `id.column`
 *   `semdedup.threshold`        default 0.95 (the paper's regime)
 *   `semdedup.clusters`         default 8
 *   Docs WITHOUT an embedding row are kept — semantic dedup only prunes
 *   ids it has positive near-duplicate evidence for.
 *
 * Optional DSIR tier (L39, Xie et al. 2023 — select docs that LOOK
 * LIKE a trusted target corpus by unigram likelihood ratio):
 *   `dsir.enabled`       default false — adds a `dsir_logw` column
 *   `dsir.target.table`  (required when enabled) metastore table with
 *                        the trusted target sample's text
 *   `dsir.top.fraction`  optional — keep only the top fraction by
 *                        importance weight (approx-quantile threshold,
 *                        no global sort; null-weight docs drop with
 *                        the tail). Absent → annotate only.
 *
 * Optional trained-classifier tier (L40, the fastText-style linear
 * filter of GPT-3/LLaMA curation — positives = the SAME trusted
 * target sample, negatives = the raw pool):
 *   `classifier.enabled` default false — adds a `clf_score` column
 *                        (requires `dsir.target.table` as positives)
 *   `classifier.min`     optional — drop docs scoring below
 *
 * Optional URL/domain tier (L50, C4/RefinedWeb — runs FIRST, before
 * any text is read, because it is the cheapest possible prune):
 *   `url.column`         enables the tier when set — the column
 *                        carrying each doc's source URL
 *   `url.blocklist`      comma list of blocked registered domains
 *   `url.max.per.domain` optional per-domain diversity cap (docs kept
 *                        deterministically by hash rank)
 *
 * Optional line-wise quality rules (L51, RefinedWeb/Gopher — applied
 * right after the document-level quality and repetition filters):
 *   `line.rules.enabled` default false
 *   `line.max.bullet`    default 0.9  — max share of bullet lines
 *   `line.max.ellipsis`  default 0.3  — max share of "..."-ended lines
 *   `line.max.nonalpha`  default 0.5  — max share of letterless lines
 *
 * Optional leakage-safe split (L14):
 *   `split.group.safe`    default false — split membership keyed by the
 *                         near-dup GROUP representative (MinHash pairs →
 *                         connected components), so surviving near-dups
 *                         never straddle train and eval
 *   `split.group.jaccard` default 0.8 — pair threshold feeding the groups
 *
 * Every metastore table named in the options (`input.table`,
 * `semdedup.table`, `perplexity.reference.table`) must also be declared
 * among the job's input tables — the MetastoreReader rejects undeclared
 * reads by design.
 */
final class CurationTransformer extends Transformer {

  override def validate(ms: MetastoreReader, infoDate: LocalDate,
                        options: Map[String, String]): Reason =
    if (!options.contains("input.table"))
      Reason.NotReady("option 'input.table' is required")
    else if (options.get("semdedup.enabled").contains("true") &&
      !options.contains("semdedup.table"))
      Reason.NotReady("option 'semdedup.table' is required when semdedup.enabled=true")
    else if ((options.get("dsir.enabled").contains("true") ||
      options.get("classifier.enabled").contains("true")) &&
      !options.contains("dsir.target.table"))
      Reason.NotReady(
        "option 'dsir.target.table' is required when dsir.enabled or classifier.enabled")
    else Reason.Ready

  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame = {
    def table(name: String) = ms.getTable(name, Some(infoDate), Some(infoDate))
    CurationTransformer.curate(table(options("input.table")), table, options,
      (_, df) => df)
  }
}

object CurationTransformer {

  /** `mark(label, frame)` gets the frame ENTERING stage `label`
    * (`dropped_<stage>`, or `kept` for the output) and returns the
    * frame the chain continues with. */
  type Mark = (String, DataFrame) => DataFrame

  /** The stage chain over the input rows `read`; `table` resolves the
    * other tables the options name. `mark` is applied at each enabled
    * stage's boundary, in chain order, on the main chain only (the
    * fits read the unmarked corpus). Stage inputs are deterministic
    * (the [[Dedup.exact]] contract), so an observing mark counts the
    * same rows whichever action completes it first. */
  def curate(read: DataFrame, table: String => DataFrame,
             options: Map[String, String], mark: Mark): DataFrame = {
    val idCol = options.getOrElse("id.column", "doc_id")
    val textCol = options.getOrElse("text.column", "text")
    val qualityMin = options.getOrElse("quality.min", "0.3").toDouble
    val maxRepetition = options.getOrElse("max.repetition", "0.5").toDouble
    val weights = options.getOrElse("split.weights", "0.9,0.05,0.05")
      .split(",").map(_.trim.toDouble).toSeq

    // URL tier first: a domain prune reads zero text bytes, so it runs
    // before anything that touches the (much wider) text column
    val urlCol = options.get("url.column")
    val domainCap = options.get("url.max.per.domain").map(_.toInt)
    val blocked = options.get("url.blocklist")
      .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def unblocked(m: Mark): DataFrame = graft.operators.UrlCuration.filterBlockedDomains(
      m("dropped_url_blocklist", read), urlCol.get, blocked)
    // the tier is built twice (unmarked as `docs`, marked as the main
    // chain); the domain cap's one eager query runs once for both
    lazy val hotDomains =
      graft.operators.UrlCuration.hotDomains(unblocked((_, df) => df), urlCol.get, domainCap.get)
    def urlTier(m: Mark): DataFrame = (urlCol, domainCap) match {
      case (None, _) => read
      case (Some(_), None) => unblocked(m)
      case (Some(u), Some(cap)) => graft.operators.UrlCuration.capToHotSet(
        m("dropped_url_domain_cap", unblocked(m)), u, idCol, cap, hotDomains)
    }
    val docs = urlTier((_, df) => df)
    // ── r20 overlap (guide §2.6 "overlap independent jobs") ─────────
    // The pipeline's EAGER model constructions are chains of small
    // driver-blocking jobs and mutually independent: the semantic-dedup
    // fit + drop list, the perplexity reference fit, the group-safe
    // split's near-dup pair groups, and (r21) the shared exact/minhash
    // duplicate probe. Run serially, each chain leaves the cluster idle
    // through every job tail; submitted from a small driver pool, the
    // scheduler back-fills (FIFO: the earlier job keeps priority, later
    // jobs use the idle slots). Every block's own math is UNTOUCHED —
    // identical models and frames, awaited and composed in the original
    // order — and every metastore read stays on the caller thread (the
    // reader's bookkeeping is not part of the overlap). Blocks that are
    // not enabled never submit; with one block the pool degenerates to
    // the serial behavior. Measured keep (perfbench `curation`, seed 7,
    // interleaved pairs, 4-core host): fully serial without the shared
    // probe ran `run_s` 32.5 s against 28.3 s (slower in 5 of 6 pairs);
    // the pool without the probe 28.0 s against 26.1 s (7 of 8 pairs).
    // Pool threads are created by the caller's submits and inherit its
    // local properties: the blocks run in the caller's job group (a
    // task kill reaches them) and set only their job description. One
    // job tag lets a failure anywhere CANCEL the siblings' outstanding
    // jobs (ADVICE r20) instead of letting them run under a dead pipeline.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration

    val semInputs = if (!options.get("semdedup.enabled").contains("true")) None
      else Some((
        table(options("semdedup.table")),
        options.getOrElse("semdedup.embedding.column", "embedding"),
        options.getOrElse("semdedup.id.column", idCol),
        options.getOrElse("semdedup.clusters", "8").toInt,
        options.getOrElse("semdedup.threshold", "0.95").toDouble))
    val pplEnabled = options.get("perplexity.enabled").contains("true")
    val pplRef = if (!pplEnabled) None
      else Some(options.get("perplexity.reference.table").map(table).getOrElse(docs))
    val groupSafe = options.get("split.group.safe").contains("true")
    val nBlocks = Seq(semInputs.isDefined, pplRef.isDefined, groupSafe, groupSafe)
      .count(identity)
    val sc = docs.sparkSession.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, nBlocks))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // tagged BEFORE the first submit creates a pool thread
    val siblings = s"curation-fits-${java.util.UUID.randomUUID()}"
    sc.addJobTag(siblings)
    try {

    // r21 (guide §2.4 fewer passes + VERDICT item 1): exact dedup's
    // duplicate-fingerprint aggregation and the minhash pass's dup
    // probe aggregate the SAME corpus hash — when both consumers are
    // enabled (group-safe split), ONE materialized probe feeds both.
    val probeFut = if (!groupSafe) None else Some(Future {
      sc.setJobDescription("curation: shared exact/minhash dup probe")
      Dedup.dupProbe(docs, textCol, idCol)
    })

    // semantic dedup: embeddings live in their OWN table (they are
    // produced by a different pipeline stage than the text); prune the
    // ids SemDeDup drops, via anti-join so embedding-less docs survive
    val semFut = semInputs.map { case (emb, embCol, embIdCol, k, thr) =>
      Future {
        sc.setJobDescription("curation: semdedup fit + drop list")
        // SemDeDup builds the drop list internally; anti-join it
        // directly rather than re-deriving it from the survivor set
        // (which would run the whole SemDeDup DAG a second time).
        SemDeDup.fitAndDropList(emb, embCol, embIdCol, k, iters = 3,
          threshold = thr)._2
      }
    }
    // perplexity fit (see the perplexity tier below for the input
    // contract) and the group-safe pair groups launch BEFORE the
    // semantic block is awaited, so all the chains overlap
    val pplFut = pplRef.map(ref => Future {
      sc.setJobDescription("curation: perplexity reference fit")
      LmScore.fitUnigram(ref, textCol)
    })
    val groupsFut = if (!groupSafe) None else Some(Future {
      sc.setJobDescription("curation: near-dup pair groups")
      val jThr = options.getOrElse("split.group.jaccard", "0.8").toDouble
      // near-dup pairs come from the RAW input projection, not the
      // curated frame: scoring them on withPpl would evaluate the
      // whole curated DAG (dedup → semdedup → quality → perplexity)
      // a SECOND time just to shingle two source columns — and
      // full-corpus groups are the more conservative leakage rule
      // anyway: near-dup chains THROUGH pruned docs still group, so
      // surviving copies cannot straddle train/eval via a dropped
      // intermediate.
      val pairs = Dedup.minhashNearDups(
        docs.select(col(idCol), col(textCol)), textCol, idCol, threshold = jThr,
        precomputed = probeFut.map(Await.result(_, Duration.Inf)))
      DupGroups.connectedComponents(pairs, "id_a", "id_b")
    })

    // composed AFTER every block has launched (the probe await must not
    // serialize in front of the sibling chains)
    val main = mark("dropped_exact_dup", urlTier(mark))
    val deduped = probeFut match {
      case None => Dedup.exact(main, textCol, idCol)
      case Some(f) =>
        Dedup.exactFromProbe(main, textCol, idCol, Await.result(f, Duration.Inf))
    }
    val semDeduped = semFut.fold(deduped)(f =>
      mark("dropped_semantic_dup", deduped).join(Await.result(f, Duration.Inf),
        col(idCol) === col("_drop_id"), "left_anti"))

    // one filter per stage boundary; Catalyst combines unmarked ones
    val qualityKept = mark("dropped_quality", semDeduped)
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .where(col("quality") >= qualityMin)
    val repetitionKept = mark("dropped_repetition", qualityKept)
      .withColumn("repetition", round(TextFunctions.repetitionRatio(col(textCol)), 4))
      .where(col("repetition") <= maxRepetition)
    val lineKept =
      if (!options.get("line.rules.enabled").contains("true")) repetitionKept
      else mark("dropped_line_rules", repetitionKept).where(
        TextFunctions.lineQualityKeep(col(textCol),
          options.getOrElse("line.max.bullet", "0.9").toDouble,
          options.getOrElse("line.max.ellipsis", "0.3").toDouble,
          options.getOrElse("line.max.nonalpha", "0.5").toDouble))

    val scored = lineKept
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .withColumn("n_tokens", TextFunctions.tokenCountWs(col(textCol)))
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))

    // perplexity tier: bounded fit (LmScore.fitUnigram: a driver-side
    // count up to its row gate, else one token-count aggregation +
    // capped vocab) on the reference, row-local native scoring (no
    // shuffle); tokenless docs score null and pass the cut. The fit
    // input default is the RAW read, not the curated frame: a trusted
    // reference table is the production knob, and without one the fit
    // must not RE-EXECUTE the dedup → semdedup DAG just to count
    // tokens — at corpus scale that doubles the most expensive stages
    // for a distribution estimate the raw scan approximates within the
    // duplicates' weight shift.
    val pplLm = pplFut.map(Await.result(_, Duration.Inf))
    val withPpl = pplLm match {
      case None => scored
      case Some(lm) =>
        graft.expr.GraftFunctions.ensure(scored.sparkSession)
        val withCol = mark("dropped_perplexity", scored).withColumn("perplexity",
          round(LmScore.perplexityCol(col(textCol), lm), 4))
        options.get("perplexity.max").map(_.toDouble) match {
          case Some(maxPpl) =>
            withCol.where(col("perplexity").isNull || col("perplexity") <= maxPpl)
          case None => withCol
        }
    }

    // DSIR + classifier tiers share the trusted target sample; both
    // fits are bounded (capped-vocab LM aggregates / sampled LBFGS)
    // and both SCORE row-locally through the native probe — adding
    // either tier adds zero shuffles to the corpus side
    val dsirTarget = options.get("dsir.target.table").map(table)
    val withDsir =
      if (!options.get("dsir.enabled").contains("true")) withPpl
      else {
        val targetLm = LmScore.fitUnigram(dsirTarget.get, textCol)
        // the perplexity tier fit `docs` too unless given a reference
        val rawLm = pplLm.filter(_ => !options.contains("perplexity.reference.table"))
          .getOrElse(LmScore.fitUnigram(docs, textCol))
        graft.expr.GraftFunctions.ensure(withPpl.sparkSession)
        val annotated = mark("dropped_dsir", withPpl).withColumn("dsir_logw",
          round(graft.operators.Dsir.logWeightCol(col(textCol), targetLm, rawLm), 4))
        options.get("dsir.top.fraction").map(_.toDouble) match {
          case Some(frac) =>
            graft.operators.Dsir.selectTopFraction(annotated, "dsir_logw", frac)
          case None => annotated
        }
      }
    val withClf =
      if (!options.get("classifier.enabled").contains("true")) withDsir
      else {
        val model = graft.operators.QualityClassifier.fit(
          positives = dsirTarget.get, negatives = docs, textCol = textCol)
        graft.expr.GraftFunctions.ensure(withDsir.sparkSession)
        val annotated = mark("dropped_classifier", withDsir).withColumn("clf_score",
          round(graft.operators.QualityClassifier.scoreCol(col(textCol), model), 4))
        options.get("classifier.min").map(_.toDouble) match {
          case Some(min) => annotated.where(col("clf_score") >= min)
          case None => annotated
        }
      }

    // `split.bucket = replayable` swaps the split's xxhash64 bucket for
    // the exact-integer multiplicative hash (the L14b/L50 oracle
    // precedent) so an external engine can replay split membership
    // bit-for-bit; the default keeps xxhash64's better distribution
    val bucketOf: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      options.get("split.bucket") match {
        case Some("replayable") => Some(c =>
          // (id·2654435761) mod 2^32 mod 1e6, the one shared
          // overflow-safe spelling — see Sampling.replayableRank32
          pmod(Sampling.replayableRank32(c), lit(1000000L)))
        case None | Some("default") => None
        case Some(other) => throw new IllegalArgumentException(
          s"split.bucket must be 'default' or 'replayable', got '$other'")
      }
    val labelled = groupsFut match {
      case None =>
        Sampling.withSplitLabel(withClf, idCol, weights, Seq("train", "val", "test"),
          bucketCol = bucketOf.map(_(col(idCol))))
      case Some(f) =>
        Sampling.withGroupSafeSplitLabel(withClf, idCol, Await.result(f, Duration.Inf),
          weights, Seq("train", "val", "test"), bucketOf = bucketOf)
    }
    mark("kept", labelled)

    } catch { case e: Throwable =>
      // first failure (or an interrupted await) kills the SIBLING
      // blocks' outstanding jobs and interrupts the pool threads
      // (ADVICE r20): without this, a failed semdedup fit left the
      // minhash chain burning cluster time under a pipeline that could
      // only rethrow
      sc.cancelJobsWithTag(siblings)
      pool.shutdownNow()
      throw e
    } finally { sc.removeJobTag(siblings); pool.shutdown() }
  }
}
