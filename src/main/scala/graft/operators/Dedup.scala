package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication family for LLM training-data pipelines. Every
 * algorithm is bucket-first: candidate generation is a `groupBy` on a
 * short key (content hash, LSH band, hamming block), so the only
 * shuffle is O(data) on that key and no O(n²) cross join ever forms —
 * the property that keeps these runnable on 100 TB corpora.
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * Exact dedup on content: keep the smallest `idCol` per identical
   * text, keyed by a 128-bit double fingerprint (two independent
   * xxhash64 seeds; collision odds ~n²/2¹²⁹, ≪10⁻²⁰ at 10¹² docs),
   * ties broken deterministically by id.
   *
   * Minority-shuffle plan: most of a real corpus is unique, and
   * unique rows don't need a shuffle at all —
   *  1. an ids-free aggregation finds fingerprints with >1 copy (the
   *     shuffle carries only (fp1, fp2, count) = 24 bytes per GROUP);
   *  2. that dup-fingerprint set — tiny for web corpora — broadcasts;
   *  3. the unique majority passes through via a broadcast ANTI join
   *     (zero shuffle of row data); only rows in duplicate groups go
   *     through the keep-smallest-id window shuffle.
   * So full-row shuffle volume is O(duplicates), not O(corpus). Costs
   * two extra scans of the input (the dup-fp aggregation plus the
   * second join branch); at 100 TB scans are far cheaper than a
   * full-corpus shuffle. The input must be DETERMINISTIC across
   * re-evaluations (a plain table read is; a `sample`/`limit` without
   * a prior materialization is not) — the three branches must see the
   * same fingerprints. If duplicate GROUPS may be too numerous to
   * broadcast (mass-duplicated corpora), use [[exactFromProbe]]: its
   * probe counts the groups and takes the classic one-window plan
   * above [[MaxBroadcastDupGroups]].
   */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = withFingerprints(docs, textCol)
    val dupFps = withFp.groupBy("_fp1", "_fp2")
      .agg(count(lit(1)).as("_n")).where(col("_n") > 1)
      .select("_fp1", "_fp2")
    exactOverDupFps(withFp, idCol, dupFps)
  }

  /** `docs` plus [[exact]]'s fingerprint columns `_fp1`, `_fp2`: both
    * hash the RAW text (exactness contract) with independent seeds. */
  private def withFingerprints(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("_fp1", xxhash64(col(textCol)))
      .withColumn("_fp2", xxhash64(lit(0x9E3779B9L), col(textCol)))

  /** [[exact]]'s broadcast-plan tail over an already-derived duplicate
    * fingerprint set — shared with [[exactFromProbe]] so the two plans
    * can never drift. */
  private def exactOverDupFps(withFp: DataFrame, idCol: String,
                              dupFps: DataFrame): DataFrame = {
    val unique = withFp.join(broadcast(dupFps), Seq("_fp1", "_fp2"), "left_anti")
    val w = Window.partitionBy(col("_fp1"), col("_fp2")).orderBy(col(idCol))
    val keepers = withFp.join(broadcast(dupFps), Seq("_fp1", "_fp2"), "left_semi")
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
    unique.union(keepers).drop("_fp1", "_fp2")
  }

  /** One materialized duplicate-group probe over the (fp1, fp2) text
    * fingerprints [[exact]] keys on, shared (r21, guide §2.4 — fewer
    * corpus passes) between exact dedup and the MinHash candidate
    * pass: a pipeline that runs both used to aggregate the corpus hash
    * TWICE (exact's dupFps aggregation + minhash's single-hash dup
    * probe). `dupGroups` is (_k1, _k2, rep) for every >1-copy text,
    * MATERIALIZED (localCheckpoint) so consumers plan against a leaf;
    * the plan-shape counters ride the SAME action as query metrics
    * (`observe`), so the whole probe is one job. Determinism contract
    * as [[exact]]: the input must evaluate identically across the
    * consumers' re-scans. */
  final case class DupProbe(dupRows: Long, nGroups: Long, totalRows: Long,
                            dupGroups: DataFrame)

  def dupProbe(docs: DataFrame, textCol: String, idCol: String): DupProbe = {
    val byKey = docs.select(col(idCol).as("_pid"),
        xxhash64(col(textCol)).as("_k1"),
        xxhash64(lit(0x9E3779B9L), col(textCol)).as("_k2"))
      .groupBy(col("_k1"), col("_k2"))
      .agg(min(col("_pid")).as("rep"), count(lit(1)).as("_n"))
    val obs = org.apache.spark.sql.Observation()
    val g = byKey.observe(obs,
        coalesce(sum(when(col("_n") > 1, col("_n") - 1).otherwise(0L)), lit(0L)).as("dupRows"),
        count(when(col("_n") > 1, 1)).as("nGroups"),
        coalesce(sum(col("_n")), lit(0L)).as("totalRows"))
      .where(col("_n") > 1).select(col("_k1"), col("_k2"), col("rep"))
      .localCheckpoint(true)
    val m = obs.get
    DupProbe(m("dupRows").asInstanceOf[Long], m("nGroups").asInstanceOf[Long],
      m("totalRows").asInstanceOf[Long], g)
  }

  /** [[exact]] fed by a shared [[DupProbe]] instead of its own dupFps
    * aggregation — identical keep set (same fingerprints, same
    * keep-smallest-id rule); one fewer full corpus aggregation when the
    * probe is shared with the MinHash pass. The probe's group count
    * also gates the broadcast the plain path must assume: above
    * [[MaxBroadcastDupGroups]] the classic full-window plan runs
    * instead of broadcasting an oversized dup set. */
  def exactFromProbe(docs: DataFrame, textCol: String, idCol: String,
                     probe: DupProbe): DataFrame = {
    if (probe.nGroups > MaxBroadcastDupGroups)
      return exactWindow(docs, textCol, idCol)
    exactOverDupFps(withFingerprints(docs, textCol), idCol,
      probe.dupGroups.select(col("_k1").as("_fp1"), col("_k2").as("_fp2")))
  }

  /** [[exact]]'s keep set by the classic one-shot full-row window
    * shuffle: no broadcast, and one evaluation of `docs`, so it lifts
    * the determinism requirement. */
  private[operators] def exactWindow(docs: DataFrame, textCol: String,
                                     idCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), xxhash64(lit(0x9E3779B9L), col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact-dedup summary: groups with duplicates (keeper id + count). */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1)

  /**
   * MinHash signature as an array<bigint> of `k` hash minima over a
   * PRE-MATERIALIZED shingle column (an attribute reference). Pure
   * column expressions (xxhash64 with per-function seed) — no UDF, no
   * shuffle. Passing a raw shingle *expression* here would re-run it
   * k times per row; callers must `withColumn` the shingles first.
   */
  def minhashSignatureFromShingles(shingles: Column, k: Int): Column = {
    val hashed = transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => xxhash64(i, s))))
    when(size(shingles) === 0, transform(sequence(lit(0), lit(k - 1)), i => i.cast("long")))
      .otherwise(hashed)
  }

  /** Convenience over raw text; for hot paths use the FromShingles
   * variant on a materialized column. */
  def minhashSignature(text: Column, shingleSize: Int, k: Int): Column =
    minhashSignatureFromShingles(TextFunctions.wordShingles(text, shingleSize), k)

  /**
   * MinHash + LSH near-duplicate candidate pairs.
   *
   * signature (k minima) → `bands` bands of k/bands minima → band
   * hash → groupBy (band, hash) buckets → intra-bucket pairs. Bucket
   * size is capped (`maxBucket`) so degenerate content (empty/boiler-
   * plate) cannot quadratically explode a reducer — the standard
   * guard for web-scale corpora. Only doc ids travel through the
   * bucket shuffle (never document text — at 100 TB the band shuffle
   * must stay O(ids), not O(corpus)). Returns distinct (id_a, id_b)
   * with id_a < id_b.
   */
  /** Dup-group count above which the dup-group set stops being
    * broadcastable for star generation. */
  private[operators] val MaxBroadcastDupGroups = 100 * 1000

  /** The adaptive mass-duplication plan choice, shared by MinHash and
    * embedding dedup (one decision function so the two can never
    * disagree, and so the thresholds are unit-testable — the 10×
    * scale smoke pins them). */
  private[operators] sealed trait DupPlan
  private[operators] object DupPlan {
    /** Curated corpus: single-pass banding, zero extra plan nodes. */
    case object NoDups extends DupPlan
    /** Light duplication: full corpus bands + broadcast star pairs. */
    case object BroadcastStars extends DupPlan
    /** Heavy duplication: pre-group by fingerprint, band only the
      * representatives — g copies cost g-1 stars, not O(g²)/band. */
    case object PreGroup extends DupPlan

    def choose(dupRows: Long, nGroups: Long, totalRows: Long): DupPlan =
      if (dupRows == 0) NoDups
      else if (nGroups <= MaxBroadcastDupGroups && dupRows * 20 < totalRows) BroadcastStars
      else PreGroup
  }

  /** Duplicate probe over an ids-only (doc_id, _k) frame: ONE
    * aggregate pass returns (duplicateMemberRows, dupGroupCount,
    * totalRows) plus the dup-group frame — the signals that decide
    * the dedup plan shape (duplicate ROW share drives bucket
    * flooding; group count drives broadcastability; total rows is
    * folded in so no branch pays a second corpus count).
    *
    * DETERMINISM: the probe is a separate evaluation of the input's
    * lineage from the stars/banding that follow — the same contract
    * as [[exact]]'s multi-branch plan: the input must be
    * deterministic across re-evaluations (a table read is; `sample`/
    * `limit` without a prior materialization is not). */
  private[operators] def dupGroupsOf(keyed: DataFrame): (Long, Long, Long, DataFrame) = {
    val byKey = keyed.groupBy(col("_k")).agg(min(col("doc_id")).as("rep"), count(lit(1)).as("_n"))
    val g = byKey.where(col("_n") > 1)
    val probe = byKey.agg(
      coalesce(sum(when(col("_n") > 1, col("_n") - 1).otherwise(0L)), lit(0L)).as("dupRows"),
      count(when(col("_n") > 1, 1)).as("nGroups"),
      coalesce(sum(col("_n")), lit(0L)).as("totalRows")).head()
    (probe.getLong(0), probe.getLong(1), probe.getLong(2), g.select(col("_k"), col("rep")))
  }

  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
                        maxBucket: Int = 1000,
                        precomputed: Option[DupProbe] = None): DataFrame = {
    val r = k / bands
    graft.expr.GraftFunctions.ensure(docs.sparkSession)

    def banding(input: DataFrame): DataFrame = {
      val withSig = input
        .withColumn("_toks", TextFunctions.tokens(col("text")))
        .withColumn("_sh", graft.expr.GraftFunctions.wordShingles(col("_toks"), shingleSize))
        .withColumn("sig", graft.expr.GraftFunctions.minhashSig(col("_sh"), k))
      val banded = withSig.select(
        col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bh")))).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      idPairsFromBuckets(banded, Seq("band", "bh"), maxBucket)
    }

    // Mass-duplication handling is ADAPTIVE on an ids-only dup probe
    // (exact-text copies are the dominant duplicate class of an
    // uncurated crawl, but a curated corpus has none and must not pay
    // for them):
    //  - no duplicates: the original single-pass band pipeline, no
    //    extra plan nodes at all;
    //  - light duplication (< ~5% of rows, dup-group set
    //    broadcastable): the full corpus still runs the bands (too few
    //    copies to flood buckets) + star pairs (group min -> member,
    //    jaccard exactly 1) from a broadcast join, which also
    //    guarantees intra-group edges when a bucket cap truncates;
    //  - heavy duplication: the corpus pre-groups by text fingerprint
    //    (this is the one path that shuffles text — worth it there)
    //    and only one representative per distinct text enters the
    //    bands: g copies cost g-1 star pairs instead of O(g²) per
    //    band. Pair sets stay transitively complete in every branch.
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // a shared DupProbe (r21) replaces the probe aggregation with the
    // materialized (fp1, fp2)-keyed groups the exact-dedup pass already
    // computed — a strictly FINER exact-text key than the single
    // xxhash64, so group membership is identical absent 64-bit
    // collisions and the corpus hash aggregation runs once per
    // pipeline, not once per operator (guide §2.4).
    val (dupRows, nGroups, totalRows, keyCols, keyed, dupG) = precomputed match {
      case Some(p) =>
        val keyed2 = base.select(col("doc_id"),
          xxhash64(col("text")).as("_k1"),
          xxhash64(lit(0x9E3779B9L), col("text")).as("_k2"))
        (p.dupRows, p.nGroups, p.totalRows, Seq("_k1", "_k2"), keyed2, p.dupGroups)
      case None =>
        val keyed1 = base.select(col("doc_id"), xxhash64(col("text")).as("_k"))
        val (dupRows, nGroups, totalRows, dupG) = dupGroupsOf(keyed1)
        (dupRows, nGroups, totalRows, Seq("_k"), keyed1, dupG)
    }
    DupPlan.choose(dupRows, nGroups, totalRows) match {
      case DupPlan.NoDups => banding(base)
      case DupPlan.BroadcastStars =>
        val stars = keyed.join(broadcast(dupG), keyCols)
          .where(col("doc_id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
        stars.unionByName(banding(base)).dropDuplicates("id_a", "id_b")
      case DupPlan.PreGroup =>
        // groups maps distinct texts to their min-id representative;
        // with a precomputed probe only the >1-copy groups exist (a
        // unique text is its own rep by definition), so representatives
        // are "the corpus minus non-representative members" — one
        // anti-join by id, the same single full-text shuffle the
        // self-computed path pays on its rep join
        val groups = precomputed match {
          case Some(_) => dupG
          case None =>
            keyed.groupBy(keyCols.map(col): _*).agg(min(col("doc_id")).as("rep"))
        }
        val nonReps = keyed.join(groups, keyCols)
          .where(col("doc_id") =!= col("rep"))
        val stars = nonReps
          .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
        val reps = base.join(nonReps.select(col("doc_id")), Seq("doc_id"), "left_anti")
        stars.unionByName(banding(reps))
    }
  }

  /**
   * End-to-end MinHash near-dedup: candidates → exact n-gram Jaccard
   * verify (`NgramJaccard`) → pairs at/above `threshold`.
   */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.8, shingleSize: Int = 3,
                      k: Int = 64, bands: Int = 16,
                      precomputed: Option[DupProbe] = None): DataFrame = {
    val cand = minhashCandidates(docs, textCol, idCol, shingleSize, k, bands,
      precomputed = precomputed)
    NgramJaccard.verifyPairs(cand, docs, textCol, idCol, shingleSize)
      .where(col("jaccard") >= threshold)
  }

  /**
   * 64-bit SimHash over whitespace tokens: per-bit signed vote of
   * token hashes, folded with higher-order `aggregate`/`zip_with` —
   * single pass, no explode, no shuffle. Tokens are hashed ONCE into
   * a hash array first; the per-bit votes then read the lambda
   * variable (hashing inside the 64-bit vote would cost 64 xxhash64
   * evaluations per token).
   */
  def simhash(text: Column): Column = simhashOfTokens(TextFunctions.tokens(text))

  /** HOF simhash over a pre-materialized token array — the parity
    * reference for the native `simhash64` expression (identical null
    * handling: xxhash64 of a null token stays at the seed). */
  def simhashOfTokens(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => {
        val bits = array((0 until 64).map(j =>
          when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)): _*)
        zip_with(acc, bits, (a, b) => a + b)
      })
    // positive vote → bit set; powers are distinct so plain sum == OR
    val powers = array((0 until 64).map(j => lit(1L << j)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(0L)),
      lit(0L), (acc, b) => acc + b)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-duplicate candidate pairs: the 64-bit hash is split
   * into 4 16-bit blocks; any pair within hamming distance 3 shares at
   * least one block (pigeonhole), so grouping by (blockIdx, blockVal)
   * finds all such pairs with 4 bucket shuffles and zero cross joins.
   * Returned pairs carry the exact hamming distance for filtering.
   *
   * Mass duplication (the normal shape of an uncurated crawl: many
   * exact copies) is pre-grouped by IDENTICAL hash first — each
   * member pairs to its group's minimum id (hamming 0, a star), and
   * only one representative per distinct hash enters the buckets. A
   * group of g copies emits g-1 star pairs instead of flooding every
   * block bucket with O(g²) pairs. The pair set is therefore
   * TRANSITIVELY complete (connected components are identical to the
   * exhaustive set's), not pairwise-exhaustive — feed it to
   * [[DupGroups.connectedComponents]]/[[DupGroups.keepRepresentatives]],
   * which only need connectivity.
   */
  def simhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    val withHash = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("sh", graft.expr.GraftFunctions.simhash64(TextFunctions.tokens(col("text"))))
      .select(col("doc_id"), col("sh")) // ids + 8 bytes from here on
    hammingCandidates(withHash, maxHamming, maxBucket)
  }

  /**
   * Near-dup candidate pairs for ANY 64-bit hamming-metric hash
   * (`doc_id`, `sh`) — text SimHash, image pHash, audio and video
   * fingerprints all ride the same plan: MULTI-INDEX HASHING
   * (Norouzi, Punjani & Fleet, "Fast Search in Hamming Space with
   * Multi-Index Hashing", CVPR 2012). The hash splits into `m` WIDE
   * blocks; each row lands in its exact per-block bucket (its
   * "anchor") and additionally PROBES every bucket within radius `t`
   * bit-flips of that value. Pigeonhole: a pair within hamming `h`
   * has some block differing in at most ⌊h/m⌋ ≤ t bits, so the pair
   * meets as anchor×probe (or anchor×anchor when that block is
   * identical) — coverage holds for all h ≤ m·(t+1) − 1. Candidates
   * come from bucket shuffles of ids + 8 bytes, never a cross join.
   *
   * Why wide-blocks-plus-probing instead of the naive `h+1` exact
   * blocks: the exact split's selectivity is its block width, and at
   * h = 10 that is 64/11 ≈ 6 bits — 64 distinct bucket values per
   * block, so at ANY real corpus size every bucket saturates and
   * pair generation inside buckets goes quadratic-to-the-cap while
   * the cap silently truncates recall. MIH keeps blocks ≥ 10 bits
   * (≥ 1024 bucket values — see [[mihPlan]]) at every supported
   * radius and pays with probe rows (still ids + 8 bytes each), the
   * trade that holds up at corpus scale.
   *
   * Identical-hash pre-grouping is UNCONDITIONAL: the frame is
   * already ids + 8 bytes, so grouping and the star join shuffle
   * almost nothing, and two rows with the same hash never have a
   * reason to co-occupy a block bucket (they'd only emit the pairs
   * the stars already encode). Stars are hamming 0 exactly — the
   * metric is a function of the hash itself. The pair set is
   * transitively complete, not pairwise-exhaustive — feed it to
   * [[DupGroups]].
   *
   * The returned pair frame is materialized EAGERLY (it is the small
   * end of the funnel — true candidates only, after the exact
   * hamming filter) so the (id, hash) input cache can be released
   * before returning; for the multimodal families that input is a
   * decode+DCT/FFT per row and must compute exactly once.
   *
   * Anchors and probes are capped at `maxBucket` EACH per bucket,
   * keeping the smallest ids (deterministic; recall, not
   * correctness, degrades on overflow). A pair is emitted only from
   * its first qualifying block, so a probe capped away there is not
   * retried in later blocks — size `maxBucket` above the expected
   * per-bucket probe occupancy n·C(w,≤t)/2^w.
   */
  private[graft] def hammingCandidates(withHash: DataFrame, maxHamming: Int,
                                       maxBucket: Int): DataFrame =
    hammingCandidates(withHash, maxHamming, maxBucket, align = None)

  /**
   * Multi-index-hashing plan (blockCount, probeRadius) for a 64-bit
   * hash at `maxHamming`: the cheapest plan whose pigeonhole covers
   * the radius — m·(t+1) − 1 ≥ maxHamming — while every block keeps
   * at least 10 bits (≥ 2^10 bucket values), the selectivity floor
   * that stops buckets collapsing at corpus scale.
   *
   *  - h ≤ 5: `h+1` exact blocks, no probes (widths 64/(h+1) ≥ 10;
   *    the minimal-shuffle classic — one row per block per doc).
   *  - h ≤ 7: 4 × 16-bit blocks, radius 1 (16 probe rows/block).
   *  - h ≤ 11: 4 × 16-bit blocks, radius 2 (136 probes/block).
   *  - h ≤ 15: 4 × 16-bit blocks, radius 3 (696 probes/block).
   *
   * Probe-row counts rise combinatorially with the radius — that is
   * MIH's documented trade (ibid. §3.2): per-block enumeration cost
   * C(w,≤t) against per-bucket occupancy n/2^w. At the widths above
   * the probe rows stay ids + 8 bytes and the candidate-check work
   * per doc is n·C(w,≤t)/2^w per block — bounded selectivity at any
   * corpus size, unlike narrow exact blocks whose occupancy is
   * n/2^6 at h = 10.
   */
  private[graft] def mihPlan(maxHamming: Int): (Int, Int) = maxHamming match {
    case h if h <= 5  => (h + 1, 0)
    case h if h <= 7  => (4, 1)
    case h if h <= 11 => (4, 2)
    case _            => (4, 3)
  }

  /** Balanced block widths for an m-way split of 64 bits. */
  private[graft] def mihWidths(nBlocks: Int): Array[Int] = {
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    Array.tabulate(nBlocks)(b => if (b < extra) base + 1 else base)
  }

  /** All XOR masks of weight 1..radius within `width` bits — the
    * probe enumeration of one MIH block (the exact value itself is
    * the anchor row, emitted separately with a 0 mask). */
  private[graft] def probeMasks(width: Int, radius: Int): Seq[Long] = {
    def combos(start: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else (start to width - left).flatMap(i => combos(i + 1, left - 1, acc | (1L << i)))
    (1 to radius).flatMap(r => combos(0, r, 0L))
  }

  /**
   * As [[hammingCandidates]], but with an optional ALIGNMENT
   * expression (a function of `doc_id`): rows only ever pair within
   * the same alignment value — both the identical-hash pre-grouping
   * and the block buckets key on it. Callers whose match definition
   * is positional (video frame ordinals: [[graft.multimodal.VideoHash]])
   * need this, because a hash recurring at MANY positions (a black
   * frame, a title card) would otherwise pre-group across positions
   * to one global representative and the direct same-position pair —
   * the only one that counts — would never be emitted.
   */
  private[graft] def hammingCandidates(withHash: DataFrame, maxHamming: Int,
                                       maxBucket: Int, align: Option[Column]): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (radius-3 probing on 16-bit blocks), got $maxHamming")
    graft.expr.GraftFunctions.ensure(withHash.sparkSession)
    // the persisted bucket directory, released after the eager
    // checkpoint below (the persist → eager output → unpersist
    // discipline; a pinned intermediate that outlives its operator is
    // what made the r14 bench read phantom regressions)
    var dirToRelease: Option[DataFrame] = None

    // BUCKET-DIRECTORY formulation (r16). The r15 plan materialized
    // radius-t probes as ROWS — n × (1 + masks) × m entries — which
    // the sf10 probe showed saturating every bucket at 600k hashes
    // (h=10 is 137 masks/block: 329M probe rows, 227k truncated
    // buckets, 56M dropped members, 420 s). Here probes are
    // BUCKET-level, not row-level: anchors aggregate once into a
    // bucket directory (one row per occupied (blk, bv) with the
    // capped member list), and radius probing is a self-join of the
    // directory on XOR-neighbor keys — each unordered bucket pair
    // visited once, from its smaller bv. The probe cost is bounded by
    // the BUCKET SPACE (≤ 2^w × masks edges per block), independent
    // of corpus size, and aggregation state holds only true anchors
    // (occupancy n/2^w — the cap stops being load-bearing until
    // n ≈ maxBucket × 2^w per block). Pair emission stays globally
    // unique via the first-qualifying-block rule inside the native
    // expression, so no dropDuplicates shuffle of the candidate
    // stream ever happens.
    def bucketPairs(input: DataFrame, nBlocks: Int, radius: Int,
                    effMaxBucket: Int): DataFrame = {
      val widths = mihWidths(nBlocks)
      val offsets = widths.scanLeft(0)(_ + _)
      val extra = 64 % nBlocks
      // one row per (doc, block): the exact block value
      val blocked = input.select(
        col("doc_id"), col("sh"), col("algn"),
        explode(array((0 until nBlocks).map { b =>
          val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1
          struct(lit(b).as("blk"),
            shiftright(col("sh"), offsets(b)).bitwiseAND(mask).as("bv"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("sh"), col("algn"),
          col("bb.blk").as("blk"), col("bb.bv").as("bv"))
      // bounded_min_k, NOT slice(sort_array(collect_list …)): the
      // slice caps what is KEPT, but collect_list BUFFERS the whole
      // bucket first — a hot bucket of distinct hashes sharing one
      // block value (near-blank images whose pHash block is 0) is an
      // O(bucket) executor buffer. The capped aggregate keeps the k
      // smallest members in O(k) state and reports what it dropped,
      // which BucketTruncation surfaces as query metrics.
      // The exchange is pinned to the session's shuffle parallelism:
      // directory rows are tiny but downstream pair loops are
      // CPU-heavy, and AQE's byte-based coalescing under-partitions
      // tiny-row/CPU-heavy stages (r15 measurement: 2 partitions at
      // 2.9M entries → 5.8 s vs pinned 32 → 1.3 s).
      val sp = withHash.sparkSession.sessionState.conf.numShufflePartitions
      val aggd = blocked
        .repartition(sp, col("algn"), col("blk"), col("bv"))
        .groupBy(col("algn"), col("blk"), col("bv"))
        .agg(graft.expr.GraftFunctions.boundedMinK(
          struct(col("doc_id"), col("sh").as("_p")), effMaxBucket).as("_m"))
      val dirPlain = BucketTruncation.attach(aggd, col("_m.dropped"))
        .select(col("algn"), col("blk"), col("bv"), col("_m.members").as("members"))
      // radius > 0 reuses the directory three ways (same-bucket pairs,
      // edge fan-out, join probe side) — persist so the blocked
      // shuffle runs once, released by the caller right after the
      // eager checkpoint. radius == 0 scans it exactly once: a
      // persist there is pure pinned-intermediate cost.
      val dir =
        if (radius == 0) dirPlain
        else {
          val d = dirPlain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          dirToRelease = Some(d)
          d
        }
      // same-bucket pairs (block distance 0)
      val same = dir.where(size(col("members")) > 1)
        .select(explode(graft.expr.GraftFunctions.mihPairs(
          col("members"), slice(col("members"), 1, 0), col("blk"),
          maxHamming, radius, nBlocks)).as("p"))
      if (radius == 0)
        same.select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.hamming").as("hamming"))
      else {
        // neighbor edges: every occupied bucket × its nonzero masks of
        // weight ≤ t, kept only from the smaller bv side so each
        // unordered bucket pair joins exactly once. The mask lists
        // ride the plan as all-literal arrays that ConstantFolding
        // collapses before codegen (radius 3 is 696 masks and must
        // never be per-mask expression nodes); lit(), not typedlit()
        // (typedlit's TypeTag route breaks under REPL classloaders).
        def maskArray(width: Int): Column =
          array(probeMasks(width, radius).map(lit(_)): _*)
        val wideMasks = maskArray(widths(0))
        val narrowMasks = maskArray(widths(nBlocks - 1))
        val edges = dir
          .select(col("algn"), col("blk"), col("bv"), col("members").as("members_a"),
            explode(if (extra == 0) narrowMasks
                    else when(col("blk") < extra, wideMasks).otherwise(narrowMasks)).as("_m"))
          .where(col("bv") < col("bv").bitwiseXOR(col("_m")))
          .select(col("algn"), col("blk"),
            col("bv").bitwiseXOR(col("_m")).as("bv"), col("members_a"))
        val cross = edges.join(dir, Seq("algn", "blk", "bv"))
          .select(explode(graft.expr.GraftFunctions.mihCrossPairs(
            col("members_a"), col("members"), col("blk"),
            maxHamming, radius, nBlocks)).as("p"))
        same.unionByName(cross)
          .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
            col("p.hamming").as("hamming"))
      }
    }

    // the (id, hash) frame fans out to the pre-group AND the star
    // join; cache it (ids + 8 bytes) so the hash — a decode+DCT/FFT
    // per row for the multimodal families — computes exactly once,
    // then RELEASE it once the candidate pairs are materialized:
    // operators that pin intermediates and never let go are what made
    // the r14 bench sweep read 16× phantom regressions on downstream
    // queries (block-manager squeeze), so the discipline is
    // persist → eager small output → unpersist.
    val tagged = withHash.withColumn("algn", align.getOrElse(lit(0)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val groups = tagged.groupBy(col("sh"), col("algn")).agg(min(col("doc_id")).as("rep"))
      // occupancy-aware planning (r17): buckets key on (algn, blk, bv),
      // so the HOTTEST alignment group's distinct-hash count bounds
      // expected per-bucket occupancy. One cheap aggregate over the
      // cached (id, 8-byte) frame — the DupPlan count discipline — and
      // the hash column (the expensive decode/DCT work for multimodal
      // callers) computes once here into the cache that every
      // downstream branch reuses.
      val nMax = {
        val r = groups.groupBy(col("algn")).count().agg(max(col("count"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val choice = MihPlanning.choose(maxHamming, nMax, maxBucket)
      MihPlanning.record(choice)
      choice.warning.foreach(w => log.warn(w))
      if (choice.adapted && choice.warning.isEmpty)
        log.info(s"MIH occupancy adaptation: ${choice.nBlocks}x${64 / choice.nBlocks}-bit " +
          s"blocks radius ${choice.radius} for n=$nMax distinct hashes " +
          f"(expected occupancy ${choice.expectedOccupancy}%.1f)")
      val stars = tagged.join(groups, Seq("sh", "algn"))
        .where(col("doc_id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("doc_id").as("id_b"), lit(0).as("hamming"))
      stars.unionByName(bucketPairs(
        groups.select(col("rep").as("doc_id"), col("sh"), col("algn")),
        choice.nBlocks, choice.radius, choice.maxBucket))
        .localCheckpoint(true)
    } finally {
      tagged.unpersist()
      dirToRelease.foreach(_.unpersist())
      ()
    }
  }

  /**
   * Intra-bucket pair generation (ids only): collect ids per bucket
   * (capped), emit ordered pairs, distinct. Only the id column ever
   * shuffles — the scale-critical property for text dedup, where
   * shipping payloads into buckets would shuffle the whole corpus
   * once per band.
   */
  private[operators] def idPairsFromBuckets(df: DataFrame, keyCols: Seq[String],
                                            maxBucket: Int): DataFrame = {
    // NO partition pin here, unlike hammingCandidates: measured at
    // sf1, pinning this exchange made q_dedup_minhash 7.8 → 13.4 s.
    // MinHash band buckets are SPARSE (16-band hashes over distinct
    // signatures rarely collide, so per-bucket pair work is light)
    // and the pin's extra exchange + fixed 32-task stages cost more
    // than the parallelism buys; the MIH probe stream is the opposite
    // regime (dense buckets, heavy per-bucket CPU — 4.4× from the
    // pin). AQE's byte-based coalescing is the right default for the
    // sparse case.
    // size-capped aggregate state (see hammingCandidates): collect the
    // k smallest ids per bucket in an O(k) heap, never the whole
    // bucket, and surface dropped-member counts as query metrics.
    graft.expr.GraftFunctions.ensure(df.sparkSession)
    // when() guard: struct(doc_id) is never null, so without it a
    // null id would be collected as a member (collect_list skipped
    // nulls) and emit null-keyed candidate pairs downstream
    val aggd = df
      .groupBy(keyCols.map(col): _*)
      .agg(graft.expr.GraftFunctions.boundedMinK(
        when(col("doc_id").isNotNull, struct(col("doc_id"))), maxBucket).as("_m"))
    val bucketed = BucketTruncation.attach(aggd, col("_m.dropped"))
      .select(col("_m.members.doc_id").as("members"))
      .where(size(col("members")) > 1)
    bucketed.select(explode(expr(
      """
      flatten(transform(members, (a, i) ->
        transform(slice(members, i + 2, size(members)), b ->
          struct(a as id_a, b as id_b))))
      """)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

}

/**
 * Observability for the size-capped bucket collectors: every banding /
 * multi-index-hashing candidate generator records, per run, how many
 * bucket members the `maxBucket` cap dropped and how many buckets
 * were truncated at all. Zero on every gate corpus; at real scale a
 * non-zero count is the signal that recall is being traded for the
 * memory bound — previously that trade was silent.
 *
 * Implemented with `Dataset.observe` (a `CollectMetrics` node over
 * the aggregated bucket frame — no extra job, metrics ride the
 * existing action). The observation is recorded per-thread at plan
 * construction; read [[lastStats]] after an action has run the plan.
 */
object BucketTruncation {
  import org.apache.spark.sql.Observation

  /** (truncated buckets, dropped members) of the most recent
    * capped-bucket operator built on this thread, once an action has
    * executed it. None if never attached / not yet executed. */
  final case class Stats(truncatedBuckets: Long, droppedMembers: Long)

  private val last = new ThreadLocal[Option[Observation]] {
    override def initialValue(): Option[Observation] = None
  }

  /** Drop this thread's recorded observation — call before running a
    * query whose stats you intend to read, so a failure before plan
    * construction can't misattribute the PREVIOUS operator's numbers. */
  def reset(): Unit = last.remove()

  /** [[lastStats]], waiting for the observation to resolve: it lands
    * on a listener thread AFTER the action returns, so an immediate
    * read races it (the r16 sf10 probe lost its minhash stats to
    * exactly this race). Polls in 100 ms steps up to `timeoutMs`;
    * call only after an action has actually run the observed plan —
    * a failed/absent action has nothing to wait for. */
  def awaitStats(timeoutMs: Int = 5000): Option[Stats] = {
    var waited = 0
    while (lastStats.isEmpty && waited < timeoutMs) {
      Thread.sleep(100); waited += 100
    }
    lastStats
  }

  private[operators] def attach(df: DataFrame, dropped: Column): DataFrame = {
    val obs = Observation()
    val out = df.observe(obs,
      count(when(dropped > 0, lit(1))).as("truncated_buckets"),
      coalesce(sum(dropped), lit(0L)).as("dropped_members"))
    last.set(Some(obs))
    out
  }

  def lastStats: Option[Stats] = last.get().flatMap { obs =>
    obs.future.value.flatMap(_.toOption).map { row =>
      Stats(row.getAs[Number]("truncated_buckets").longValue(),
        row.getAs[Number]("dropped_members").longValue())
    }
  }
}

/**
 * Exact n-gram Jaccard similarity — the verification pass after any
 * LSH candidate generation (candidates only, never all pairs).
 */
/**
 * Benchmark decontamination — removing training documents that leak
 * evaluation data (shared word n-grams with a benchmark/test corpus),
 * the standard pre-training hygiene step.
 *
 * Scale shape: the benchmark is small by construction, so its hashed
 * shingle set BROADCASTS; training shingles stream through a
 * broadcast semi join (no shuffle of the corpus), and only MATCHING
 * (doc, shingle-hash) pairs — rare by construction — reach the
 * per-doc overlap count; the contaminated-id set then broadcasts
 * into an anti join, so the corpus itself is never shuffled at all.
 */
object Decontaminate {

  /** (id, n_overlap) for docs sharing >= `minOverlap` distinct word
    * `shingleSize`-grams with any benchmark document. */
  def contaminatedIds(docs: DataFrame, textCol: String, idCol: String,
                      benchmark: DataFrame, benchTextCol: String,
                      shingleSize: Int = 8, minOverlap: Int = 1): DataFrame = {
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    def shingles(c: String): Column =
      graft.expr.GraftFunctions.wordShingles(TextFunctions.tokens(col(c)), shingleSize)
    val benchSh = benchmark
      .select(explode(shingles(benchTextCol)).as("_sh"))
      .select(xxhash64(col("_sh")).as("_h")).distinct()
    docs
      .select(col(idCol), explode(shingles(textCol)).as("_sh"))
      .select(col(idCol), xxhash64(col("_sh")).as("_h"))
      .join(broadcast(benchSh), Seq("_h"), "left_semi") // corpus-side: filter, no shuffle
      .distinct()                                        // matching pairs only
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** The corpus minus contaminated documents. */
  def clean(docs: DataFrame, textCol: String, idCol: String,
            benchmark: DataFrame, benchTextCol: String,
            shingleSize: Int = 8, minOverlap: Int = 1): DataFrame = {
    val bad = contaminatedIds(docs, textCol, idCol, benchmark, benchTextCol,
      shingleSize, minOverlap).select(idCol)
    docs.join(broadcast(bad), Seq(idCol), "left_anti")
  }

  /** Near-match (fuzzy) decontamination — the tier ABOVE exact n-gram
    * overlap: a PARAPHRASED eval item (a synonym edit every few
    * tokens) shares essentially no exact 8-grams with its source —
    * every 8-token window contains an edit, so [[contaminatedIds]]
    * sees nothing — while keeping most of its 3-shingle set, which is
    * exactly what MinHash signature similarity detects. The two tiers
    * are complementary and both standard pre-training hygiene.
    *
    * Scale shape (composes [[MinHashIndex]] with the benchmark as the
    * broadcast batch side): corpus signatures are computed in-stream —
    * one scan, nothing persisted — or, when the pipeline already
    * maintains a persisted [[MinHashIndex.writeIndex]] of the corpus
    * for incremental dedup, passed via `index` so the corpus TEXT is
    * never re-read at all; the benchmark's banded signatures
    * broadcast, a ROW-LOCAL band-bucket prefilter drops corpus rows
    * sharing no bucket before any explode, and candidates verify on
    * the signature-estimated jaccard. `bands = 32` (r = 2) rather than
    * the dedup default 16: paraphrase similarity sits near ~0.4, far
    * below the dedup regime, and r = 2 keeps banding recall ≥ 99.9%
    * there — the extra false candidates are discarded by the estimate
    * filter.
    *
    * Output: (id, est_jaccard) — the corpus doc and its best match
    * strength against any benchmark item. */
  def nearContaminatedIds(docs: DataFrame, textCol: String, idCol: String,
                          benchmark: DataFrame, benchTextCol: String,
                          threshold: Double = 0.35, shingleSize: Int = 3,
                          k: Int = 64, bands: Int = 32,
                          index: Option[DataFrame] = None): DataFrame = {
    val bench = benchmark.select(col(benchTextCol).as("_btxt"))
      .withColumn("_bench_id", monotonically_increasing_id())
    // the in-stream index MUST be persisted before probing: matches()
    // derives band hashes and the bucket prefilter from the sig column,
    // and over a LAZY frame the optimizer re-inlines the signature
    // expression into the band lambda and the pushed-down filter —
    // MinHash recomputed ~bands× per corpus row (measured 103 s vs
    // 2.5 s on the 50k-doc bench corpus). Persisting makes sig a
    // stored attribute: ONE corpus scan computes signatures, every
    // probe consumer reads them (memory-and-disk — the index is
    // ~0.5 KB/doc, 3-4 orders smaller than the corpus). The result is
    // materialized eagerly so the cache can be released NOW (the
    // contaminatedIdsBloom discipline).
    val idx = index.getOrElse(
      MinHashIndex.buildIndex(docs, textCol, idCol, shingleSize, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val out = MinHashIndex.matches(bench, "_btxt", "_bench_id", idx, idCol,
        threshold = threshold, shingleSize = shingleSize, k = k, bands = bands)
      .groupBy(col("index_id").as(idCol))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
    if (index.isEmpty) {
      val materialized = out.localCheckpoint(true)
      idx.unpersist()
      // matches() checkpointed the benchmark's banded signatures; that
      // frame is a LogicalRDD leaf of the pre-checkpoint plan and is
      // dead now that the result is materialized
      CheckpointDiscipline.freeLocalCheckpoint(out)
      materialized
    } else out
  }

  /** Near-match decontamination with EXACT verification — the
    * [[nearContaminatedIds]] candidates re-checked on true n-gram
    * Jaccard instead of the signature estimate. The estimator's ±1/√k
    * noise puts borderline pairs on the wrong side of the threshold in
    * both directions (a paraphrase-source missed at est 0.29, an
    * unrelated doc flagged at est 0.31); production eval-leak audits
    * want the decision on the REAL overlap. Cost shape: banding at a
    * LOW candidate threshold keeps recall (k=128/bands=64 puts the
    * miss probability of a true-0.45 pair below 1e-6), and the exact
    * pass touches only candidate pairs — texts join back via a
    * broadcast of the candidate id set, so the corpus is still never
    * shuffled and the shingle-set intersection runs on O(candidates)
    * rows, never O(corpus × bench).
    *
    * Output: (id, jaccard) — true `shingleSize`-gram Jaccard of the
    * corpus doc against its best-matching benchmark item, ≥ threshold,
    * rounded to 6 places (SQL-replayable: the whole decision is plain
    * set arithmetic over the two texts). */
  def nearContaminatedIdsVerified(docs: DataFrame, textCol: String, idCol: String,
                                  benchmark: DataFrame, benchTextCol: String,
                                  threshold: Double = 0.3, shingleSize: Int = 3,
                                  k: Int = 128, bands: Int = 64,
                                  candidateThreshold: Double = 0.1): DataFrame = {
    require(candidateThreshold <= threshold,
      s"candidateThreshold $candidateThreshold must not exceed verify threshold $threshold")
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    // ids must be stable across the probe and the verify join below;
    // the lazy checkpoint materializes once at the probe and is reused
    val bench = benchmark.select(col(benchTextCol).as("_btxt"))
      .withColumn("_bench_id", monotonically_increasing_id())
      .localCheckpoint()
    val idx = MinHashIndex.buildIndex(docs, textCol, idCol, shingleSize, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lazyCands = MinHashIndex.matches(bench, "_btxt", "_bench_id", idx, idCol,
        threshold = candidateThreshold, shingleSize = shingleSize, k = k, bands = bands)
      .select(col("batch_id").as("_bench_id"), col("index_id").as(idCol))
    val cands = lazyCands.localCheckpoint(true)
    idx.unpersist()
    // matches() checkpointed the banded bench signatures internally; a
    // leaf of the PRE-checkpoint plan, dead now that cands materialized
    CheckpointDiscipline.freeLocalCheckpoint(lazyCands)
    def shingleSet(c: Column): Column =
      array_distinct(graft.expr.GraftFunctions.wordShingles(TextFunctions.tokens(c), shingleSize))
    // candidate ids broadcast into the corpus scan FIRST, shingle
    // after: only candidate docs' texts are ever re-read or shingled
    val docTexts = docs
      .join(broadcast(cands.select(idCol).distinct()), Seq(idCol))
      .select(col(idCol), shingleSet(col(textCol)).as("_dsh"))
    val benchTexts = bench.select(col("_bench_id"), shingleSet(col("_btxt")).as("_bsh"))
    val inter = size(array_intersect(col("_dsh"), col("_bsh")))
    val union = size(col("_dsh")) + size(col("_bsh")) - inter
    val out = docTexts
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(benchTexts), Seq("_bench_id"))
      .withColumn("_j", when(union > 0, inter.cast("double") / union).otherwise(lit(0.0)))
      .groupBy(col(idCol))
      .agg(round(max(col("_j")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
    // materialize the (small) verdict so the bench + candidate
    // checkpoint blocks can be released NOW rather than leaking for
    // the lazy frame's lifetime
    val materialized = out.localCheckpoint(true)
    CheckpointDiscipline.freeLocalCheckpoint(out)
    materialized
  }

  /** The corpus minus near-contaminated documents. */
  def cleanNear(docs: DataFrame, textCol: String, idCol: String,
                benchmark: DataFrame, benchTextCol: String,
                threshold: Double = 0.35, shingleSize: Int = 3,
                k: Int = 64, bands: Int = 32): DataFrame = {
    val bad = nearContaminatedIds(docs, textCol, idCol, benchmark, benchTextCol,
      threshold, shingleSize, k, bands).select(idCol)
    docs.join(broadcast(bad), Seq(idCol), "left_anti")
  }

  /** Bench-vector count up to which the benchmark rides the plan as one
    * array literal (dim 1024 floats × 4096 vectors ≈ 16 MB of plan —
    * the broadcast-threshold ballpark). */
  private[operators] val MaxLiteralBenchVectors = 4096

  /** Semantic (embedding-space) decontamination — the tier ABOVE
    * [[nearContaminatedIds]]: a REWRITTEN eval item (translated,
    * heavily paraphrased, re-tokenized) can share almost no 3-shingle
    * surface with its source — MinHash similarity sees nothing — while
    * its embedding still sits next to the original, which is exactly
    * what eval-set leakage audits of modern pre-training runs screen
    * for. The three tiers (exact n-grams → signature similarity →
    * embedding cosine) are ordered by recall and by cost; this one
    * needs an embeddings table for the corpus (the [[SemDeDup]] input
    * contract) plus embeddings of the eval items.
    *
    * Scale shape: eval suites are small (thousands of items) while the
    * corpus is the 100 TB side, so the benchmark always moves to the
    * corpus, never the reverse. Two count-gated plans with identical
    * results:
    *  - `bench ≤ MaxLiteralBenchVectors`: the bench vectors become ONE
    *    array-of-arrays literal and each corpus row computes
    *    `array_max(transform(bench, b -> cosine_sim(vec, b)))`
    *    ROW-LOCALLY — zero join, zero shuffle, one corpus scan inside
    *    whole-stage codegen (`cosine_sim` is the native expression);
    *  - larger benches: broadcast nested-loop join, with the
    *    `cos >= threshold` filter applied BEFORE the per-id max
    *    aggregation, so the one shuffle carries only contaminated
    *    (id, cos) pairs — O(leaks), never O(corpus × bench).
    *
    * Output: (idCol, max_cosine) — the corpus doc and its strongest
    * embedding match against any benchmark item at/above `threshold`.
    * Null corpus vectors never match; null bench vectors are dropped. */
  def semanticContaminatedIds(corpusEmb: DataFrame, idCol: String, vecCol: String,
                              benchEmb: DataFrame, benchVecCol: String,
                              threshold: Double = 0.9,
                              maxLiteralVectors: Int = MaxLiteralBenchVectors): DataFrame = {
    graft.expr.GraftFunctions.ensure(corpusEmb.sparkSession)
    val bench = benchEmb.select(col(benchVecCol).as("_bvec"))
      .where(col("_bvec").isNotNull)
    val nBench = bench.count()
    require(nBench > 0, "semanticContaminatedIds needs a non-empty benchmark")
    if (nBench <= maxLiteralVectors) {
      val vecs: Seq[Seq[Float]] = bench.collect()
        .map(_.getSeq[Float](0).toIndexedSeq).toIndexedSeq
      // the native max_cosine_sim, NOT array_max(transform(lit, ...)):
      // a HOF lambda re-evaluates its body per element, and the corpus
      // vector is part of the body — a computed vector column (e.g. a
      // collapsed-in projection) would recompute once per bench vector
      // (measured as a multi-minute interpreted stage at 487 bench
      // vectors); the expression evaluates the vector child ONCE and
      // loops the matrix in Java, inside whole-stage codegen
      corpusEmb
        .select(col(idCol),
          graft.expr.GraftFunctions.maxCosineSim(col(vecCol), vecs).as("max_cosine"))
        .where(col("max_cosine") >= threshold)
    } else {
      corpusEmb.select(col(idCol), col(vecCol))
        .crossJoin(broadcast(bench))
        .select(col(idCol),
          graft.expr.GraftFunctions.cosineSim(col(vecCol), col("_bvec")).as("_cos"))
        .where(col("_cos") >= threshold) // before the agg: shuffle = O(leaks)
        .groupBy(col(idCol)).agg(max(col("_cos")).as("max_cosine"))
    }
  }

  /** The corpus (embedding table) minus semantically contaminated
    * documents. Callers holding a separate documents table anti-join
    * the id column themselves. */
  def cleanSemantic(corpusEmb: DataFrame, idCol: String, vecCol: String,
                    benchEmb: DataFrame, benchVecCol: String,
                    threshold: Double = 0.9): DataFrame = {
    val bad = semanticContaminatedIds(corpusEmb, idCol, vecCol,
      benchEmb, benchVecCol, threshold).select(idCol)
    corpusEmb.join(broadcast(bad), Seq(idCol), "left_anti")
  }

  /**
   * Per-suite contamination report — the eval-integrity dashboard:
   * one row per named benchmark suite with how many training
   * documents leak it and how much (doc count + corpus share, total
   * and worst-case distinct shared n-grams). r20 (guide §2.4 "do fewer
   * passes"): the per-suite [[contaminatedIds]] loop shingle-exploded
   * the WHOLE CORPUS once per suite; the suites' distinct shingle
   * hashes now broadcast as one suite-TAGGED union, so the corpus is
   * exploded and probed exactly once however many suites ride the
   * report. Per-(suite, doc) overlap counts are identical to the
   * per-suite shape (distinct (suite, id, hash) matches); suites with
   * zero leaks re-attach as zero rows from the literal name list —
   * the row an empty per-suite aggregate used to produce. The corpus
   * cardinality attaches as a lazy one-row broadcast so the whole
   * report is one lazy frame.
   */
  def contaminationReport(docs: DataFrame, textCol: String, idCol: String,
                          suites: Seq[(String, DataFrame, String)],
                          shingleSize: Int = 8, minOverlap: Int = 1): DataFrame = {
    require(suites.nonEmpty, "contaminationReport needs at least one suite")
    // suites are tagged by name: a shared name would merge their counts
    val suiteNames = suites.map(_._1)
    val dupNames = suiteNames.diff(suiteNames.distinct).distinct
    require(dupNames.isEmpty,
      s"contaminationReport suite names must be unique; duplicated: ${dupNames.mkString(", ")}")
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    def shingleHashes(df: DataFrame, c: String): DataFrame = df
      .select(explode(graft.expr.GraftFunctions.wordShingles(
        TextFunctions.tokens(col(c)), shingleSize)).as("_sh"))
      .select(xxhash64(col("_sh")).as("_h"))
    val total = docs.agg(count(lit(1)).as("_n"))
    val taggedSuiteSh = suites.map { case (name, bench, benchTextCol) =>
      shingleHashes(bench, benchTextCol).distinct()
        .select(lit(name).as("suite"), col("_h"))
    }.reduce(_ unionByName _)
    val overlaps = docs
      .select(col(idCol), explode(graft.expr.GraftFunctions.wordShingles(
        TextFunctions.tokens(col(textCol)), shingleSize)).as("_sh"))
      .select(col(idCol), xxhash64(col("_sh")).as("_h"))
      .join(broadcast(taggedSuiteSh), Seq("_h")) // corpus-side: filter+tag, no shuffle
      .select(col("suite"), col(idCol), col("_h")).distinct()
      .groupBy(col("suite"), col(idCol)).agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
    val perSuiteAgg = overlaps.groupBy(col("suite"))
      .agg(count(lit(1)).as("_cd"), sum(col("n_overlap")).as("_lk"),
        max(col("n_overlap")).as("_mx"))
    import docs.sparkSession.implicits._
    val names = suites.map(_._1).toDF("suite")
    val perSuite = names.join(perSuiteAgg, Seq("suite"), "left")
      .select(col("suite"),
        coalesce(col("_cd"), lit(0L)).as("contaminated_docs"),
        coalesce(col("_lk"), lit(0L)).as("leaked_ngrams"),
        coalesce(col("_mx"), lit(0L)).as("max_overlap"))
    perSuite.crossJoin(broadcast(total))
      .select(col("suite"), col("contaminated_docs"),
        round(col("contaminated_docs").cast("double") / col("_n"), 6).as("doc_share"),
        col("leaked_ngrams"), col("max_overlap"))
  }

  /**
   * Bloom-filtered decontamination — SAME RESULT as
   * [[contaminatedIds]], for benchmark sets too large to broadcast as
   * an exact hash set (the union of every eval suite + paraphrases can
   * itself be corpus-sized). The benchmark's distinct shingle hashes
   * build a distributed Bloom filter (`df.stat.bloomFilter` merges
   * per-partition sketches); the corpus scan probes it with a native
   * codegen'd expression — still zero corpus shuffle — and only the
   * survivors (true matches + fpp of the corpus shingles) reach the
   * exact hash semi-join, now a shuffle join whose corpus side is
   * fpp-sized. The filter bounds candidate volume; membership is
   * always decided exactly.
   *
   * `expectedShingles` skips the counting pass when the caller already
   * knows the benchmark's distinct-shingle cardinality (at scale: from
   * bookkeeping or a previous build).
   */
  def contaminatedIdsBloom(docs: DataFrame, textCol: String, idCol: String,
                           benchmark: DataFrame, benchTextCol: String,
                           shingleSize: Int = 8, minOverlap: Int = 1,
                           fpp: Double = 0.01, expectedShingles: Long = 0L): DataFrame = {
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    def shingles(c: String): Column =
      graft.expr.GraftFunctions.wordShingles(TextFunctions.tokens(col(c)), shingleSize)
    // persisted: this hash set is read up to three times (cardinality
    // count, Bloom build, exact-verify join) and the whole feature
    // exists because the benchmark side is corpus-sized — recomputing
    // the explode+distinct per consumer would triple the heavy scan
    val benchSh = benchmark
      .select(explode(shingles(benchTextCol)).as("_sh"))
      .select(xxhash64(col("_sh")).as("_h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = if (expectedShingles > 0) expectedShingles else benchSh.count()
    val bloomBytes = graft.expr.BloomMightContain.serialize(
      benchSh.stat.bloomFilter("_h", math.max(n, 1L), fpp))
    val out = docs
      .select(col(idCol), explode(shingles(textCol)).as("_sh"))
      .select(col(idCol), xxhash64(col("_sh")).as("_h"))
      .where(graft.expr.GraftFunctions.bloomMightContain(col("_h"), bloomBytes))
      .join(benchSh, Seq("_h"), "left_semi") // exact verify: Bloom FPs die here
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
    // the result is TINY (contaminated ids); materialize it eagerly so
    // the cached benchmark hash set can be released NOW — a driver
    // decontaminating against many suites must not accumulate one
    // cached corpus-scale dataset per call for the app's lifetime
    val materialized = out.localCheckpoint(true)
    benchSh.unpersist()
    materialized
  }
}

object NgramJaccard {

  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, lit(1.0)).otherwise(inter.cast("double") / union)
  }

  /** Candidate pairs by shared-rare-shingle blocking (the classic
   * inverted-index prefix filter): two docs become a candidate pair iff
   * they share at least one shingle whose document frequency lies in
   * [2, maxDf]. Unlike the MinHash candidates this is deterministic and
   * ANSI-SQL-expressible, so a pipeline (or the DuckDB oracle) can
   * replay it exactly from the raw strings.
   *
   * Scale shape: TWO passes over the exploded (shingle, id) pairs so no
   * aggregation buffer ever holds an unbounded posting list. Pass 1
   * (`rareShingles`) computes per-shingle document frequency — the
   * shuffle carries only (shingle, long) — and keeps shingles with df in
   * [2, maxDf]. Pass 2 semi-joins that rare set back onto the pairs and
   * only THEN builds posting lists, over groups provably <= maxDf, so
   * pair fan-out is bounded by maxDf*(maxDf-1)/2 per shingle. Hot
   * shingles (stopword runs, boilerplate — on a real crawl one such
   * shingle can carry billions of ids) are discarded while still counts,
   * never materialized as sets, which is what makes the shape survive a
   * mass-duplicated crawl. The final distinct dedups pairs that share
   * several rare shingles. */
  def blockedCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 4, maxDf: Int = 20): DataFrame = {
    val sh = shinglePairs(docs, textCol, idCol, shingleSize)
    val rare = rareShingles(sh, maxDf)
    sh.join(rare, Seq("sh"), "left_semi")
      .groupBy(col("sh"))
      .agg(collect_set(col("jid")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
  }

  /** Exploded (jid, sh) pairs, one row per distinct shingle per doc. */
  private[operators] def shinglePairs(docs: DataFrame, textCol: String, idCol: String,
                                      shingleSize: Int): DataFrame = {
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    docs
      .select(col(idCol).as("jid"), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("jid"),
        explode(array_distinct(
          graft.expr.GraftFunctions.wordShingles(col("_toks"), shingleSize))).as("sh"))
  }

  /** Shingles whose document frequency lies in [2, maxDf]. Counts only —
   * a shingle present in every doc of the corpus costs one long in the
   * aggregation buffer, not a posting list. */
  private[operators] def rareShingles(shinglePairs: DataFrame, maxDf: Int): DataFrame =
    shinglePairs.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .where(col("df").between(2, maxDf))
      .select("sh")

  /** Exact word-shingle Jaccard for given (id_a, id_b) candidate pairs.
   * Shingle arrays are computed once per doc on a materialized token
   * column, then joined to the (small) candidate set — the corpus is
   * scanned, never shuffled by pair. */
  def verifyPairs(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String,
                  shingleSize: Int = 3): DataFrame = {
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    val sh = docs
      .select(col(idCol).as("jid"), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("jid"),
        array_distinct(graft.expr.GraftFunctions.wordShingles(col("_toks"), shingleSize)).as("sh"))
    pairs.select("id_a", "id_b")
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .select("id_a", "id_b", "jaccard")
  }

  /** All-pairs Jaccard at/above a threshold via char-n-gram LSH-free banding
   * on shared n-grams (prefix filtering): rare n-grams as candidate keys. */
  def selfSimilarPairs(docs: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.8,
                       maxBucket: Int = 1000): DataFrame = {
    val cand = Dedup.minhashCandidates(docs, textCol, idCol, shingleSize)
    verifyPairs(cand, docs, textCol, idCol, shingleSize).where(col("jaccard") >= threshold)
  }
}
