package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-sequence preparation operators: PII scrubbing and
 * fixed-token-window document chunking. Both are pure compositions of
 * built-in (codegen'd) Spark SQL functions — no UDFs, no shuffle
 * beyond the explode in chunking — so they run per-row at scan speed
 * on any cluster size.
 */
object TextPrep {

  // ── PII scrubbing ─────────────────────────────────────────────────

  /** RE2-compatible patterns (no lookaround) for the common PII
    * classes a pre-training pipeline masks. Deliberately simple —
    * production pipelines layer NER on top; these catch the
    * high-volume mechanical classes. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  /** International-ish phone numbers: 7+ digits with separators, optional +CC. */
  val PhonePattern = "\\+?\\d[\\d\\s().-]{6,}\\d"
  /** 13–19 digit card-like runs with optional spaces/dashes between
    * digits (first/last char anchored as digits so no separator is
    * consumed around the match). */
  val CardPattern = "\\b\\d(?:[ -]?\\d){12,18}\\b"

  /** Mask emails/IPs/phones/card-like runs with typed placeholder tokens. */
  def scrubPii(text: Column,
               emailToken: String = "<EMAIL>",
               ipToken: String = "<IP>",
               phoneToken: String = "<PHONE>",
               cardToken: String = "<CARD>"): Column = {
    // order matters: cards before phones (a card number is also 13+
    // digits with separators), emails before phones (digits in
    // local parts must not be half-masked)
    val noEmail = regexp_replace(text, EmailPattern, emailToken)
    val noIp = regexp_replace(noEmail, Ipv4Pattern, ipToken)
    val noCard = regexp_replace(noIp, CardPattern, cardToken)
    regexp_replace(noCard, PhonePattern, phoneToken)
  }

  /** Count of PII matches per class (for corpus auditing/reporting).
    * Counted on the PROGRESSIVELY masked text in scrubPii's exact
    * order, so the report reconciles with what scrubPii emits — on
    * the raw text a card number also matches the phone pattern and
    * an IPv4 matches it too, inflating the phone count with matches
    * the scrub never masks as phones. */
  def piiCounts(text: Column): Column = {
    // mask with a letter, not whitespace: PhonePattern treats spaces
    // as separators, so a space-masked IP would BRIDGE flanking digit
    // runs into one phony phone match scrubPii (which inserts "<IP>")
    // never produces
    val noEmail = regexp_replace(text, EmailPattern, "x")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "x")
    val noCard = regexp_replace(noIp, CardPattern, "x")
    struct(
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).as("emails"),
      size(regexp_extract_all(noEmail, lit(Ipv4Pattern), lit(0))).as("ips"),
      size(regexp_extract_all(noCard, lit(PhonePattern), lit(0))).as("phones"),
      size(regexp_extract_all(noIp, lit(CardPattern), lit(0))).as("cards"))
  }

  // ── fixed-token-window chunking ───────────────────────────────────

  /**
   * Split each document into whitespace-token windows of `maxTokens`
   * with `overlap` tokens of context carried between consecutive
   * chunks — the standard shape for packing long documents into
   * bounded training sequences. Output: one row per chunk with
   * `chunk_id` (0-based), `chunk_text`, `n_chunk_tokens`; empty/
   * whitespace-only docs produce zero chunks.
   *
   * Plan shape: tokens materialize once per doc, chunk starts come
   * from `sequence()`, and the explode is the only row multiplier —
   * no shuffle, no UDF; a 100 TB corpus chunks in one scan.
   */
  def chunk(docs: DataFrame, textCol: String, idCol: String,
            maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive: $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens): $overlap vs $maxTokens")
    val stride = maxTokens - overlap
    // coalesce guards NULL text (failed extraction): without it _n is
    // null, the zero-chunk guard is false-by-null, and the doc emits a
    // phantom chunk with null text charging maxTokens of packing budget
    // normWs (collapse ALL whitespace, then trim — r17): Spark's trim
    // strips only spaces, so the old trim-then-regex-split kept phantom
    // boundary tokens on tab/newline-padded docs, inflating _n and
    // padding the first/last chunk with an empty token
    val withToks = docs
      .withColumn("_toks", split(graft.functions.TextFunctions.normWs(col(textCol)), " "))
      .withColumn("_n", when(col(textCol).isNull ||
          length(graft.functions.TextFunctions.normWs(col(textCol))) === 0, 0)
        .otherwise(size(col("_toks"))))
    // chunk start positions (1-based for slice): 1, 1+stride, 1+2*stride, …
    val starts = when(col("_n") === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(1), greatest(col("_n") - overlap, lit(1)), lit(stride)))
    withToks
      .select(col("*"), posexplode(starts).as(Seq("chunk_id", "_start")))
      .withColumn("chunk_text", array_join(slice(col("_toks"), col("_start"), lit(maxTokens)), " "))
      .withColumn("n_chunk_tokens",
        least(col("_n") - col("_start") + 1, lit(maxTokens)).cast("int"))
      .drop("_toks", "_n", "_start")
  }

  /** Sentence-ish spans: text up to and including a [.!?] run, plus a
    * trailing unterminated span. RE2-compatible (no lookaround), so
    * the same pattern replays in the oracle. */
  val SentencePattern = "[^.!?]+[.!?]+|[^.!?]+$"

  /**
   * Sentence-aware chunking: like [[chunk]] but boundaries snap to
   * sentence ends — RAG/training chunks that never cut mid-sentence.
   * Sentence i goes to chunk floor(tokensBefore_i / maxTokens), so a
   * chunk may overflow `maxTokens` by at most one sentence (snapping
   * trades exact budgets for intact sentences; a sentence longer than
   * the budget gets its own chunk rather than being split). Chunk ids
   * are DENSE per doc (an over-budget sentence skips floor values).
   *
   * Shape: sentences explode to rows, the prefix sum is one window
   * and the re-assembly one aggregation — both cluster on the doc
   * key, so EnsureRequirements plans ONE shuffle of sentence rows.
   * The tempting all-row-local HOF formulation was measured 10×
   * slower: any computed array referenced inside a lambda is
   * re-inlined by projection collapse and recomputes PER ELEMENT
   * (the r12b lesson) — a predictable single shuffle beats an O(n²)
   * recompute that hides in the plan.
   */
  def chunkBySentence(docs: DataFrame, textCol: String, idCol: String,
                      maxTokens: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive: $maxTokens")
    val raw = regexp_extract_all(col(textCol), lit(SentencePattern), lit(0))
    val sents = filter(transform(raw, s => trim(s)), s => length(s) > 0)
    val perSentence = docs
      .select(col(idCol), posexplode(sents).as(Seq("_pos", "_sent")))
      .withColumn("_cnt",
        size(split(graft.functions.TextFunctions.normWs(col("_sent")), " ")).cast("long"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val cumBefore = coalesce(
      sum(col("_cnt")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    perSentence
      .withColumn("_chunk", floor(cumBefore / maxTokens))
      .withColumn("chunk_id",
        (dense_rank().over(Window.partitionBy(col(idCol)).orderBy(col("_chunk"))) - 1)
          .cast("int"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(array_join(array_sort(collect_list(struct(col("_pos"), col("_sent")))).getField("_sent"), " ")
        .as("chunk_text"))
      .withColumn("n_chunk_tokens",
        graft.functions.TextFunctions.tokenCountWs(col("chunk_text")).cast("int"))
  }

  // ── cross-corpus segment (line) dedup ─────────────────────────────

  /** Lines as segments: the CCNet-style boilerplate scrub — drop every
    * line that repeats more than `minRepeats` times corpus-wide
    * (headers, nav bars, cookie banners). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minRepeats: Int): DataFrame =
    dedupSegments(docs, idCol, textCol,
      t => split(t, "\n"), "\n", minRepeats)

  /**
   * RefinedWeb-style line-wise CORRECTION (r18 — the fix-the-doc
   * complement of the L51 drop-the-doc rules and the L21 cross-corpus
   * boilerplate scrub): remove junk LINES and keep the document.
   * RefinedWeb's line-correction stage removes social-media counters,
   * navigation crumbs and lone bullets, then drops the whole doc only
   * when the edit was too invasive; reduced here to deterministic,
   * ANSI-replayable rules. A trimmed non-empty line is KEPT iff it
   *  - contains at least one letter (drops lone counters/dividers),
   *  - is not a short bullet fragment (starts with -, *, • and under
   *    `shortLine` chars — real bulleted PROSE survives),
   *  - is not a short "..."-truncated teaser (under `shortLine`),
   *  - is the FIRST occurrence of its content in the document
   *    (within-doc repeated headers/footers collapse; the cross-CORPUS
   *    version of this rule is [[dedupLines]]).
   * Blank lines are layout, not content: they are dropped from the
   * rebuilt text but never counted in the drop fraction.
   *
   * Adds `text_clean`, `lines_kept`, `lines_dropped` and
   * `line_drop_frac` (dropped / non-empty, 0 for line-less docs,
   * rounded to 4); callers drop documents whose fraction exceeds
   * their threshold (RefinedWeb removes docs mutilated past ~50%).
   *
   * Scale shape: pure per-row higher-order column expressions — no
   * UDF, no shuffle, no state. The first-occurrence probe is
   * O(L log L) per document: (line, idx) pairs are array_sort'ed so
   * equal lines become adjacent runs, run heads (the smallest idx of
   * each distinct line) are flagged in one linear pass, and a second
   * array_sort by idx realigns the flags with the candidate array —
   * no per-line rescan of the prefix. The naive
   * `exists(slice(all, 1, i), _ === l)` spelling is O(L²) and was a
   * measured straggler hazard on pathological documents (a 50k-line
   * doc is 2.5e9 string compares per ROW); the q_line_scrub oracle
   * keeps the quadratic spelling because first-occurrence semantics
   * are identical and DuckDB only ever replays sf0.01.
   */
  def cleanLines(docs: DataFrame, textCol: String,
                 shortLine: Int = 30): DataFrame = {
    val trimmed = transform(split(regexp_replace(col(textCol), "\r", ""), "\n"),
      l => trim(l))
    val cand = filter(trimmed, l => length(l) > 0)
    def keepRule(l: Column): Column =
      l.rlike("[A-Za-z]") &&
        !(length(l) < shortLine && l.rlike("^[-*•]")) &&
        !(length(l) < shortLine && l.endsWith("..."))
    docs
      .withColumn("_cand", cand)
      // (line, idx) sorted by (line, idx): duplicates of a line are an
      // adjacent run whose head carries the doc's first occurrence
      .withColumn("_byLine", array_sort(transform(col("_cand"),
        (l, i) => struct(l.as("l"), i.as("i")))))
      // flag run heads (null-safe compare: get(-1) is null at the run
      // start of the whole array), then re-sort by original idx so the
      // flags align positionally with _cand
      .withColumn("_first", array_sort(transform(col("_byLine"), (x, j) =>
        struct(x.getField("i").as("i"),
          (!(x.getField("l") <=> get(col("_byLine"), j - 1).getField("l"))).as("f")))))
      .withColumn("_kept", filter(col("_cand"), (l, i) =>
        keepRule(l) && get(col("_first"), i).getField("f")))
      .withColumn("text_clean", array_join(col("_kept"), "\n"))
      .withColumn("lines_kept", size(col("_kept")))
      .withColumn("lines_dropped", size(col("_cand")) - size(col("_kept")))
      .withColumn("line_drop_frac",
        when(size(col("_cand")) === 0, lit(0.0))
          .otherwise(round(col("lines_dropped").cast("double") / size(col("_cand")), 4)))
      .drop("_cand", "_byLine", "_first", "_kept")
  }

  /**
   * Remove segments that occur more than `minRepeats` times across the
   * WHOLE corpus (CCNet's paragraph/line dedup generalized to any
   * segmentation). `segmenter` maps the text column to an
   * array<string> of segments; surviving segments are rejoined with
   * `joiner` into `text_clean`.
   *
   * Plan shape (the 100 TB story): pass 1 explodes segments and
   * aggregates xxhash64(segment) counts — the shuffle carries (hash,
   * partial count), never text. The frequent-hash set is bounded by
   * totalSegments / minRepeats and in practice is the (tiny)
   * boilerplate vocabulary; it is collected and compiled into an
   * `isInCollection` hash-set predicate (codegen'd O(1) probe), so
   * pass 2 rebuilds every document IN PLACE — zero shuffle of the
   * corpus, no join, no explode. If the frequent set ever exceeds
   * `maxDriverSet`, the rebuild falls back to explode → broadcast
   * anti join → positional reassembly (one corpus-sized shuffle),
   * which has no set-size limit.
   *
   * Hash note: membership is by 64-bit xxhash64, so two DIFFERENT
   * segments colliding would both be dropped — at 2^-64 per pair this
   * is the standard fingerprint-dedup trade (same as exact dedup's
   * 128-bit window key, see Dedup.exact).
   */
  def dedupSegments(docs: DataFrame, idCol: String, textCol: String,
                    segmenter: Column => Column, joiner: String,
                    minRepeats: Int,
                    maxDriverSet: Int = 5 * 1000 * 1000): DataFrame = {
    require(minRepeats >= 1, s"minRepeats must be >= 1: $minRepeats")
    val segs = docs.select(explode(segmenter(col(textCol))).as("_seg"))
    val freqDf = segs.groupBy(xxhash64(col("_seg")).as("_h"))
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") > minRepeats)
      .select(col("_h"))
    // primitive collect: the cap is 5M hashes — as Rows that is 5M boxed
    // objects churning the driver heap; the Long encoder materializes a
    // primitive Array[Long] directly
    DriverCollect.collectAtMost(
        freqDf.as(org.apache.spark.sql.Encoders.scalaLong), maxDriverSet) match {
      case None => rebuildByJoin(docs, idCol, textCol, segmenter, joiner, freqDf)
      case Some(capped) =>
        val keep: Column => Column =
          if (capped.isEmpty) _ => lit(true)
          else s => !xxhash64(s).isInCollection(capped)
        docs.withColumn("text_clean",
          array_join(filter(segmenter(col(textCol)), keep), joiner))
    }
  }

  // ── cross-corpus substring (token-window) dedup ───────────────────

  /**
   * Exact substring deduplication at token-window granularity — the
   * "Deduplicating Training Data Makes Language Models Better"
   * (Lee et al. 2022) ExactSubstr idea re-expressed for Spark: any
   * `windowSize`-token run that occurs more than `maxRepeats` times
   * corpus-wide keeps only its FIRST occurrence (lowest id, then
   * lowest position) and every other occurrence's token span is cut
   * from its document. Unlike [[dedupSegments]] (fixed segmentation —
   * a one-token insertion shifts every later segment boundary), the
   * sliding window catches duplicated spans at ANY offset, which is
   * where crawl boilerplate and quoted passages actually live. The
   * suffix-array formulation of the paper is a single-machine
   * construction; counting fixed-width windows is its
   * embarrassingly-parallel corpus-scale equivalent (the paper's 50-
   * token minimum match IS the window size here).
   *
   * Output: (idCol, text_clean, n_dropped) for every input doc —
   * `text_clean` is the surviving tokens of the NORMALIZED (case-
   * folded, whitespace-collapsed) text rejoined with single spaces,
   * `n_dropped` the count of removed tokens. Docs shorter than the
   * window pass through unchanged (normalized).
   *
   * Plan shape (the 100 TB story): the occurrence stream carries
   * (id, pos, xxhash64(window)) — window TEXT dies row-locally before
   * the one corpus-wide shuffle; the per-window aggregation state is a
   * count plus one (id, pos) struct (O(1) — never a posting list, the
   * blockedCandidates lesson); only flagged occurrences join back
   * (AQE broadcasts the duplicated-window set when small and splits
   * skewed hash keys otherwise — a boilerplate window with 10⁹
   * occurrences is exactly the AQE skew-join case); per-doc deletion
   * lists are bounded by the doc's own token count; the rebuild is
   * row-local after ONE id-keyed join of the deletion lists onto the
   * corpus (broadcast when few docs carry deletions — AQE — and a
   * plain key-shuffle join otherwise; the lists are (id, int[])
   * rows, never text). The rebuild probes the deletion-start list
   * per token (O(tokens × dels) worst case) — fine because dels per
   * doc is bounded by the doc's own length.
   *
   * Hash note: dedup is by 64-bit window hash (two different windows
   * colliding would over-delete one span) — the standard fingerprint
   * trade, same as [[dedupSegments]] and Dedup.exact.
   */
  def dedupTokenWindows(docs: DataFrame, idCol: String, textCol: String,
                        windowSize: Int = 50, maxRepeats: Int = 1): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2: $windowSize")
    require(maxRepeats >= 1, s"maxRepeats must be >= 1: $maxRepeats")
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    val base = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("_t"))
    // (id, 0-based start, window hash): the native rolling-hash
    // expression hashes each token ONCE and rolls window hashes in
    // O(1) — O(tokens) per doc, where the window-STRING formulation
    // (array_join(slice) per position, then xxhash64) copies O(tokens
    // × windowSize) characters: 50× the bytes at the production
    // window size. Only 20-byte rows reach the shuffle either way;
    // window equality is 64-bit-fingerprint semantics as before.
    val occ = base
      .select(col(idCol),
        posexplode(graft.expr.GraftFunctions.tokenWindowHashes(col("_t"), windowSize))
          .as(Seq("_p", "_h")))
    val flagged = occ.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"),
        min(struct(col(idCol).as("i"), col("_p").as("p"))).as("_first"))
      .where(col("_c") > maxRepeats)
      .select(col("_h"), col("_first"))
    // every occurrence of a flagged window EXCEPT its first → delete
    val dels = occ.join(flagged, Seq("_h"))
      .where(!(col(idCol) === col("_first.i") && col("_p") === col("_first.p")))
      .select(col(idCol), col("_p"))
    val starts = dels.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_p"))).as("_dels"))
    val delsArr = coalesce(col("_dels"), array().cast("array<int>"))
    val w = windowSize
    base.join(starts, Seq(idCol), "left")
      .withColumn("_kept",
        filter(col("_t"), (_, i) => !exists(delsArr, s => i >= s && i < s + w)))
      .select(col(idCol),
        array_join(col("_kept"), " ").as("text_clean"),
        (size(col("_t")) - size(col("_kept"))).cast("long").as("n_dropped"))
  }

  // ── per-document repetition metrics ───────────────────────────────

  /**
   * Gopher/MassiveText-style repetition metrics per document:
   * `top_bigram_frac` (occurrences of the single most frequent word
   * bigram over all bigram slots — degenerate docs repeat one phrase)
   * and `distinct_token_ratio` (type/token ratio — low means looping
   * text). Documents with fewer than two tokens score 0 and 1.
   *
   * This is an AGGREGATION shape, not a per-row function: a per-row
   * HOF would re-scan the token array per bigram (O(len²) per doc), so
   * the plan explodes bigrams once and aggregates twice — the shuffle
   * carries (doc_id, bigram, count) with map-side partial counts,
   * never the document text.
   */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(lower(graft.functions.TextFunctions.normWs(col(textCol))), " ")
    val base = docs.select(col(idCol), toks.as("_t"))
      .withColumn("_nt", size(col("_t")))
      .withColumn("_dt", size(array_distinct(col("_t"))))
    // count by the 64-bit HASH of the bigram, not the string: only the
    // counts matter, so the (doc, gram) shuffle carries 16 bytes per
    // slot instead of the gram text (within-doc hash collisions shift
    // a max count with probability ~slots²/2^64 — noise, not signal)
    val grams = base
      .select(col(idCol), col("_nt"), col("_dt"),
        explode(TextFunctions.wordShinglesFromTokens(col("_t"), 2)).as("_gs"))
      .select(col(idCol), col("_nt"), col("_dt"), xxhash64(col("_gs")).as("_g"))
    val perDoc = grams
      .groupBy(col(idCol), col("_nt"), col("_dt"), col("_g"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol), col("_nt"), col("_dt"))
      .agg(max(col("_c")).as("_mx"), sum(col("_c")).as("_tot"))
      .select(col(idCol),
        round(col("_mx") * 1.0 / col("_tot"), 6).as("top_bigram_frac"),
        round(col("_dt") * 1.0 / col("_nt"), 6).as("distinct_token_ratio"))
    // docs with < 2 tokens have no bigrams and fall out of the agg
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("distinct_token_ratio"), lit(1.0)).as("distinct_token_ratio"))
  }

  /** Fallback rebuild for frequent sets too large to hold on the
    * driver: positional explode, anti join against the frequent
    * hashes, order-preserving reassembly. One corpus-sized shuffle
    * (the groupBy), unbounded set size. NO broadcast hint on the
    * frequent side: this path runs precisely when the set exceeded
    * the driver cap, so forcing a broadcast would collect it to the
    * driver anyway — the wall this fallback exists to escape. AQE
    * still broadcasts when the set turns out small enough; beyond
    * that the anti join shuffles on the hash, which is the correct
    * unbounded plan. */
  private def rebuildByJoin(docs: DataFrame, idCol: String, textCol: String,
                            segmenter: Column => Column, joiner: String,
                            freqDf: DataFrame): DataFrame = {
    val segRows = docs.select(col(idCol),
      posexplode(segmenter(col(textCol))).as(Seq("_pos", "_seg")))
    val kept = segRows.join(freqDf,
      xxhash64(col("_seg")) === col("_h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_seg")))),
          x => x.getField("_seg")),
        joiner).as("text_clean"))
    // docs whose every segment was boilerplate vanish from the groupBy —
    // restore them as empty strings (parity with the in-place path) —
    // while docs with NULL text stay null on both paths
    docs.join(rebuilt, Seq(idCol), "left")
      .withColumn("text_clean",
        when(col(textCol).isNull, lit(null: String))
          .otherwise(coalesce(col("text_clean"), lit(""))))
  }
}
