package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Dataset splitting / sampling / mixing for training-data pipelines.
 *
 * Splits are DETERMINISTIC — a hash of the id column, not `rand()` —
 * so membership is stable across re-runs, retries, partitioning
 * changes and cluster sizes: the property a training pipeline needs
 * to guarantee no val/test leakage when any upstream stage is
 * recomputed. Everything is a column expression over one scan; no
 * shuffle is introduced by splitting or sampling.
 */
object Sampling {

  private val Buckets = 1000000L

  private def bucket(idCol: Column, seed: Long): Column =
    pmod(xxhash64(lit(seed), idCol), lit(Buckets))

  /**
   * Adds a `split` label ("train"/"val"/... per `names`) chosen by
   * hash bucket according to `weights` (normalized). Same id → same
   * split, always.
   */
  def withSplitLabel(df: DataFrame, idCol: String,
                     weights: Seq[Double], names: Seq[String],
                     seed: Long = 42L,
                     /** Override the bucket expression (must be
                       * deterministic in [0, 1e6)). The default is
                       * xxhash64 — best distribution, but not
                       * replayable in ANSI SQL; oracle-gated callers
                       * pass the exact-integer multiplicative hash
                       * (the L14b/L50 precedent) so DuckDB replays
                       * the membership decision bit-for-bit. */
                     bucketCol: Option[Column] = None): DataFrame = {
    require(weights.length == names.length && weights.nonEmpty,
      "weights and names must align")
    val total = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(w => (w / total * Buckets).toLong)
    val b = bucketCol.getOrElse(bucket(col(idCol), seed))
    val label = names.zip(cum).reverse.foldLeft(lit(names.last): Column) {
      case (acc, (name, upper)) => when(b < upper, name).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** The split DataFrames in `names` order (one scan each, pruned by
    * the same deterministic predicate). */
  def deterministicSplit(df: DataFrame, idCol: String,
                         weights: Seq[Double], names: Seq[String],
                         seed: Long = 42L): Seq[DataFrame] = {
    val labeled = withSplitLabel(df, idCol, weights, names, seed)
    names.map(n => labeled.where(col("split") === n).drop("split"))
  }

  /**
   * Leakage-SAFE split: near-duplicate documents must never straddle
   * train and eval — a deterministic per-id split still puts two
   * copies of one document on both sides, which inflates eval exactly
   * like benchmark contamination does. Membership is therefore
   * decided by the hash of the document's duplicate-GROUP
   * representative (`groups` = (id, group_id) from
   * [[DupGroups.connectedComponents]] over MinHash/SimHash/embedding
   * pairs); ungrouped documents fall back to their own id. The group
   * table is bounded by the duplicate count, and the split stays
   * deterministic across re-runs like every other split here.
   *
   * The group join carries no broadcast hint: the plan choice is left
   * to Spark's planner and AQE, which know the group table's size.
   * Groups resolved on the driver ([[DupGroups.connectedComponents]]'s
   * small-graph path) are a local relation of exact, known size, so a
   * small table broadcasts and the corpus never shuffles. On a
   * MASS-duplicated corpus the groups come from the distributed rounds
   * and are O(corpus); forcing them through `broadcast()` would be a
   * driver-OOM job-killer, so they take a plain shuffle left join
   * unless AQE sees they fit.
   */
  def withGroupSafeSplitLabel(df: DataFrame, idCol: String, groups: DataFrame,
                              weights: Seq[Double], names: Seq[String],
                              seed: Long = 42L,
                              /** Bucket expression builder applied to the
                                * GROUP key (the representative id, or the
                                * doc's own id outside any group) — the
                                * oracle-replayable multiplicative hash
                                * rides through here, same contract as
                                * [[withSplitLabel]]'s `bucketCol`. */
                              bucketOf: Option[Column => Column] = None): DataFrame = {
    val g = groups.select(col("id").as("_gs_id"), col("group_id").as("_gs_group"))
    val keyed = df
      .join(g, col(idCol) === col("_gs_id"), "left")
      .withColumn("_gs_key", coalesce(col("_gs_group"), col(idCol)))
    withSplitLabel(keyed, "_gs_key", weights, names, seed,
        bucketCol = bucketOf.map(_(col("_gs_key"))))
      .drop("_gs_id", "_gs_group", "_gs_key")
  }

  /**
   * Exact budget-bound corpus selection (r18 — "give me N tokens of
   * source X", the final assembly step of a training mix where quotas
   * are TOKENS/chars/bytes, not document counts): within each key,
   * documents are taken in deterministic multiplicative-hash order
   * (an unbiased reproducible shuffle — the L50/L14b replayable-rank
   * discipline, overflow-safe split arithmetic) until the budget
   * fills. A document is kept iff the weight accumulated BEFORE it in
   * that order is still under the key's budget — the first crossing
   * document is included, so each key's kept total lands in
   * [budget, budget + maxDocWeight) whenever the key has enough data.
   * Keys absent from `budgets` are dropped (quota zero).
   *
   * Plan shape: selection runs on an (id, key, weight) PROJECTION —
   * one per-key window cumsum whose sort carries ~24 bytes/row, never
   * text — and survivors rejoin by id via left-semi (AQE broadcasts
   * the kept side when small). The wide columns cross no shuffle.
   * Replayable: rank = (id·2654435761) mod 2^32 and the cumulative
   * sum are exact integer arithmetic any ANSI engine reproduces;
   * string ids rank by `md5(id)` hex, which every engine computes and
   * binary-orders identically.
   */
  def budgetSample(df: DataFrame, keyCol: String, idCol: String,
                   weightCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "budgetSample: budgets must be non-empty")
    require(budgets.values.forall(_ >= 0), s"budgetSample: negative budget in $budgets")
    require(df.columns.forall(!_.startsWith("_bs_")),
      s"budgetSample: input must not carry _bs_* columns: ${df.columns.mkString(", ")}")
    val rank = rankFor(df.schema(idCol).dataType, col("_bs_id"))
    // budgets ride a broadcast-joined frame, the same r20 discipline as
    // temperatureSample: a K-entry foldable map literal probed with
    // element_at is an O(K) ArrayBasedMapData scan per row and a
    // 2K-literal serialized plan — user-written budget maps are small,
    // but the two siblings must not contradict each other's plan shape
    import df.sparkSession.implicits._
    val budgetFrame = broadcast(
      budgets.toSeq.sortBy(_._1).toDF("_bs_bk", "_bs_budget"))
    val w = Window.partitionBy(col("_bs_key"))
      .orderBy(col("_bs_rank"), col("_bs_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ids must be unique within a key for the quota bound to be exact:
    // rows tied on (rank, id) sum order-independently, but their OWN
    // membership at the budget edge would be order-dependent — the
    // standard uniqueness contract of every id-keyed operator here.
    // The rejoin matches on (id, KEY): with duplicate ids ACROSS keys,
    // an id kept inside one key's quota must not resurrect its twin
    // in a key whose window cut it.
    // two broadcast probes of the same K-row frame (both negligible):
    // a LEFT-SEMI before the window drops unbudgeted keys without
    // widening the projection — the cumsum sort still carries only
    // (id, key, weight, rank), the stated ~24 bytes/row — and an
    // inner join AFTER the window attaches each key's budget for the
    // cut (r20c review: attaching it before the window made the
    // budget column ride the shuffle). This replaces the former
    // K-literal isin prefilter. The explicit string cast reproduces
    // the old element_at(map<string,long>, key) lookup semantics for
    // non-string key columns — a bare numeric-vs-string equality
    // would coerce BOTH sides to double and match key 1 to budget key
    // "01" (and mis-match longs past 2^53)
    val kept = df
      .select(col(idCol).as("_bs_id"), col(keyCol).as("_bs_key"),
        col(weightCol).cast("long").as("_bs_w"))
      .join(budgetFrame, col("_bs_key").cast("string") === col("_bs_bk"), "left_semi")
      // null ids sort FIRST on a null rank: they would eat the head of
      // the key's budget in the cumsum while the id-equality rejoin
      // can never resurrect them — filter them out of the window
      .where(col("_bs_id").isNotNull)
      .withColumn("_bs_rank", rank)
      .withColumn("_bs_before", coalesce(sum(col("_bs_w")).over(w), lit(0L)))
      .join(budgetFrame, col("_bs_key").cast("string") === col("_bs_bk"))
      .where(col("_bs_before") < col("_bs_budget"))
      .select(col("_bs_id"), col("_bs_key"))
    df.join(kept,
      col(idCol) === col("_bs_id") && col(keyCol) === col("_bs_key"), "left_semi")
  }

  /** The replayable per-id rank, dispatched on the id column's type
    * (ONE spelling for [[budgetSample]] and [[temperatureSample]]):
    * numeric ids take the multiplicative hash, string/binary ids the
    * md5 hex digest of their bytes (r19) — all oracle-replayable:
    * every ANSI engine computes the identical lowercase-hex md5 and
    * [0-9a-f] strings binary-order identically in Spark (UTF8String)
    * and DuckDB (default collation); the former xxhash64 string
    * fallback was deterministic but nothing outside Spark could
    * replay it. Remaining id types (date, timestamp, …) keep the
    * xxhash64 fallback — they cannot cast to binary, so the md5
    * spelling would fail ANALYSIS on columns the r18 signature
    * accepted; such ids stay deterministic but non-replayable
    * (document the caveat when they feed an oracle). The window
    * happily orders any of the three rank types. */
  private[graft] def rankFor(dt: org.apache.spark.sql.types.DataType, id: Column): Column =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => replayableRank32(id)
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => md5(id.cast("binary"))
      case _ => xxhash64(id)
    }

  /** The oracle-replayable 32-bit multiplicative rank —
    * (id·2654435761) mod 2^32 — in overflow-safe split arithmetic:
    * ids above ~3.46e9 overflow the direct Long product, an
    * ArithmeticException under ANSI mode (Spark 4's default). Every
    * intermediate stays under 2^49 and the result is bit-identical to
    * the wrapped product, so ANSI-SQL replays keep the plain-product
    * spelling. Numeric inputs only ([[rankFor]] dispatches other id
    * types). ONE spelling shared by [[budgetSample]], the
    * CurationTransformer replayable split bucket and
    * [[UrlCuration.capPerDomain]] — three copies could silently
    * desynchronize their oracle replays. */
  private[graft] def replayableRank32(c: Column): Column = {
    val m = pmod(c.cast("long"), lit(4294967296L))
    val hiPart = pmod(shiftright(m, 16) * 2654435761L, lit(4294967296L)) * 65536L
    pmod(hiPart.bitwiseAND(lit(0xFFFFFFFFL)) +
      m.bitwiseAND(lit(0xFFFFL)) * 2654435761L, lit(4294967296L))
  }

  /** Seeded stratified sampling: per-stratum fractions (absent keys
    * drop to 0). Thin wrapper over Spark's `stat.sampleBy`. */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /**
   * Cap rows per key (dedupe-adjacent "balance the dataset" op):
   * keeps the first `maxPerKey` rows per key ordered by `orderCol` —
   * one hash shuffle on the key, the standard guard against a few
   * huge domains dominating a corpus.
   */
  /** Row-hash tie-break columns: every HASHABLE, unambiguous column
    * (xxhash64 rejects MapType anywhere in a type; duplicate names
    * can't be referenced) — rows tied on orderCol then rank by a
    * deterministic function of their content instead of arrival
    * order. Rows identical in every hashable column stay
    * interchangeable, which is harmless by definition. */
  private def rowTieBreak(df: DataFrame): Seq[Column] = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val names = df.schema.fields.collect {
      case f if hashable(f.dataType) => f.name
    }
    val unambiguous = names.groupBy(identity).collect { case (n, occ) if occ.length == 1 => n }
    if (unambiguous.isEmpty) Seq.empty
    else Seq(xxhash64(struct(unambiguous.toSeq.sorted.map(col): _*)))
  }

  def capPerKey(df: DataFrame, keyCol: String, maxPerKey: Int,
                orderCol: String): DataFrame = {
    // content tie-break: row_number over a tied orderCol would keep
    // whichever rows ARRIVED first — membership drift across
    // retries/partitionings, against this file's determinism contract
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol) +: rowTieBreak(df): _*)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= maxPerKey)
      .drop("_rn")
  }

  /**
   * Uniform WITHOUT-replacement sample of exactly `n` rows per key
   * (class/language/source balancing — "30k docs per language"): keep
   * the n smallest `xxhash64(seed, id)` keys per group, which is a
   * uniform draw, deterministic per seed, and independent of
   * partitioning. The scale path vs [[capPerKey]]'s window: the
   * `top_k_rows` heap bounds the shuffle at ≤ n rows per key per
   * partition instead of sorting every key's full row set in one
   * reducer — a 10⁹-doc language costs the same shuffle as a 10⁴-doc
   * one. Contract: keys are FEW (classes, not domains) — the kept-id
   * set (n × keys) broadcasts into the semi join; for millions of
   * keys use [[capPerKey]] with a hash order column instead.
   * `orderKey` overrides the ranking key (the capPerDomain precedent:
   * an ANSI-replayable key keeps oracle gates possible).
   */
  def samplePerKey(df: DataFrame, keyCol: String, idCol: String, n: Int,
                   seed: Long = 42L, orderKey: Option[Column] = None): DataFrame = {
    require(n > 0, s"samplePerKey: n must be positive, got $n")
    graft.expr.GraftFunctions.ensure(df.sparkSession)
    val key = orderKey.getOrElse(xxhash64(lit(seed), col(idCol)))
    val kept = df
      // cast BEFORE negating: -Long.MinValue overflows under ANSI;
      // the double rounding (hashes within 1 ulp collide) only merges
      // score ties, which the id tie-break resolves deterministically
      .select(col(keyCol), struct((key.cast("double") * -1.0d).as("score"), col(idCol)).as("_scored"))
      .groupBy(col(keyCol))
      .agg(graft.expr.GraftFunctions.topKRows(col("_scored"), n).as("_tk"))
      .select(explode(col("_tk")).as("_e"))
      .select(col("_e").getField(idCol).as("_kid"))
    df.join(broadcast(kept), col(idCol) === col("_kid"), "left_semi")
  }

  /**
   * Cap each key's TOTAL BUDGET (token count, byte size) rather than
   * its row count — the curation form of "no domain dominates": rows
   * are taken in `orderCol` order while the running total stays
   * within `maxBudget`; the first row of a key is always kept even if
   * it alone exceeds the budget (dropping whole keys is a filtering
   * decision, not a capping one). One hash shuffle on the key, same
   * plan shape as [[capPerKey]].
   */
  def capPerKeyByBudget(df: DataFrame, keyCol: String, budgetCol: String,
                        maxBudget: Long, orderCol: String): DataFrame = {
    // same content tie-break as capPerKey: the cumulative sum's
    // order inside orderCol ties must not depend on arrival order
    val orderCols = col(orderCol) +: rowTieBreak(df)
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(budgetCol)).over(w))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)))
      .where(col("_cum") <= maxBudget || col("_rn") === 1)
      .drop("_cum", "_rn")
  }

  /**
   * Temperature-based corpus mixing (r19 — the mT5/XLM-R α-sampling
   * rule, arXiv:2010.11934 §3.1: sample source k with probability
   * ∝ n_k^α, α ∈ (0, 1] — α = 1 is proportional, smaller α flattens
   * the mix toward low-resource sources): select `totalBudget`
   * documents across keys with per-key quotas apportioned by the
   * temperature weights, exact to the document via largest-remainder
   * rounding (floor every raw share, then +1 to the largest
   * fractional remainders — ties by key asc — until the budget is
   * spent; Σ targets == totalBudget whenever no key saturates). A key
   * whose quota exceeds its size is capped at its size and the
   * shortfall is NOT redistributed — up-weighting a small source past
   * its actual data is replication (see [[weightedMix]]), not
   * selection. Within a key, documents are taken in the replayable
   * multiplicative-hash order (numeric ids) / md5-hex order (string
   * ids) — the [[budgetSample]] discipline.
   *
   * Replayability contract: α = 0.5 computes weights with
   * `math.sqrt` (IEEE-754 correctly rounded — bit-identical in every
   * engine, unlike the general `pow`), the weight sum folds in
   * key-ascending order, and each share is `(budget · w_k) / S` in
   * that literal association — an oracle spelling the same ops in the
   * same order reproduces every target exactly.
   *
   * Scale shape: per-key counts are the only corpus-wide aggregate
   * (a (key, long) pair per key crosses the shuffle — bounded by
   * `maxDriverKeys`, far under any real source cardinality);
   * apportionment is O(K log K) driver arithmetic; selection is one
   * per-key window row_number over an (id, key) PROJECTION (~16
   * bytes/row through the sort), the per-key target applied via a
   * BROADCAST-joined (key, target) frame (r20 — a K-entry map literal
   * probed with element_at was an O(K) scan per row and a 2K-literal
   * serialized plan at the guard bound), and a left-semi rejoin (AQE
   * broadcasts the kept side when small). Wide columns cross no
   * shuffle.
   */
  def temperatureSample(df: DataFrame, keyCol: String, idCol: String,
                        alpha: Double, totalBudget: Long,
                        maxDriverKeys: Int = 100000): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperatureSample: alpha must be in (0, 1], got $alpha")
    require(totalBudget >= 0, s"temperatureSample: negative budget $totalBudget")
    require(df.columns.forall(!_.startsWith("_ts_")),
      s"temperatureSample: input must not carry _ts_* columns: ${df.columns.mkString(", ")}")
    if (totalBudget == 0) return df.where(lit(false))
    val sorted = temperatureTargets(df, keyCol, idCol, alpha, totalBudget,
      maxDriverKeys, "temperatureSample")
    if (sorted.isEmpty) return df.where(lit(false))
    val bumped = sorted.map { case (k, n, t) =>
      k -> math.min(t, n) // saturation cap
    }.toMap
    // targets ride a broadcast-joined (key, target) frame, NOT a
    // foldable map literal: a K-entry `map(lit…)` probed with
    // element_at is ArrayBasedMapData — an O(K) linear scan per ROW —
    // and at the guard bound it would serialize a 2K-literal
    // expression into every task. The tiny frame joins hash-for-hash
    // (explicit broadcast: K ≤ maxDriverKeys rows of (string, long)),
    // O(1) per row, plan size independent of K.
    import df.sparkSession.implicits._
    val targets = broadcast(
      sorted.map { case (k, _, _) => (k, bumped(k)) }.toDF("_ts_tk", "_ts_target"))
    val rank = rankFor(df.schema(idCol).dataType, col("_ts_id"))
    val w = Window.partitionBy(col("_ts_k")).orderBy(col("_ts_rank"), col("_ts_id"))
    // null ids must not enter the window: a null rank sorts FIRST and
    // would consume the key's leading quota slots while the id-equality
    // rejoin can never match them — target-m docs returned, silently
    val kept = df
      .select(col(idCol).as("_ts_id"), col(keyCol).cast("string").as("_ts_k"))
      .where(col("_ts_id").isNotNull)
      .withColumn("_ts_rank", rank)
      .withColumn("_ts_rn", row_number().over(w))
      .join(targets, col("_ts_k") === col("_ts_tk"))
      .where(col("_ts_rn") <= col("_ts_target"))
      .select(col("_ts_id"), col("_ts_k"))
    df.join(kept,
      col(idCol) === col("_ts_id") && col(keyCol).cast("string") === col("_ts_k"),
      "left_semi")
  }

  /** The shared α-apportionment behind [[temperatureSample]] and
    * [[temperatureEpochMix]]: per-key counts (the only driver collect,
    * `maxDriverKeys`-guarded), IEEE-exact weights (sqrt for α = 0.5),
    * key-ascending weight sum, largest-remainder rounding. Returns
    * (key, count, UNCAPPED target) in key-ascending order — the two
    * callers differ only in what a target past the key's size means
    * (cap vs replicate), so the float arithmetic lives in exactly one
    * replayable spelling. */
  private def temperatureTargets(df: DataFrame, keyCol: String, idCol: String,
                                 alpha: Double, totalBudget: Long,
                                 maxDriverKeys: Int, op: String): Seq[(String, Long, Long)] = {
    // keys compared by their STRING form (the target frame's key type);
    // null keys have no source to apportion to and are dropped, and
    // null-ID rows are excluded HERE too — they are unselectable (the
    // rejoin can never match them), so counting them would over-weight
    // null-heavy keys and leave their stolen quota silently unfilled,
    // and a size the key can't deliver would mis-cap / mis-replicate.
    val collected = DriverCollect.collectAtMost(
      df.where(col(keyCol).isNotNull && col(idCol).isNotNull)
        .groupBy(col(keyCol).cast("string").as("_ts_k"))
        .agg(count(lit(1)).as("_ts_n")),
      maxDriverKeys)
    require(collected.isDefined,
      s"$op: over $maxDriverKeys distinct keys — temperature " +
        "mixing apportions per SOURCE; a key this fine-grained is the wrong column")
    val counts = collected.get.map(r => r.getString(0) -> r.getLong(1))
    val sorted = counts.sortBy(_._1)
    val wts = sorted.map { case (k, n) =>
      (k, n, if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha))
    }
    val s = wts.foldLeft(0.0) { case (acc, (_, _, w)) => acc + w }
    val raw = wts.map { case (k, n, w) => (k, n, totalBudget.toDouble * w / s) }
    val base = raw.map { case (k, n, r) => (k, n, r, math.floor(r).toLong) }
    val leftover = (totalBudget - base.map(_._4).sum).toInt
    val bumped = base.sortBy { case (k, _, r, b) => (-(r - b), k) }
      .zipWithIndex.map { case ((k, _, _, b), i) =>
        k -> (if (i < leftover) b + 1 else b)
      }.toMap
    sorted.map { case (k, n) => (k, n, bumped(k)) }
  }

  /**
   * Temperature mixing WITH epoch replication (r20 — the composed
   * recipe the mT5 α-sampling rule actually implies, arXiv:2010.11934
   * §3.1: a small source up-weighted past its size is seen MORE THAN
   * ONCE per pass): the same α-apportionment as [[temperatureSample]],
   * but a key whose quota q exceeds its size n is REPLICATED instead
   * of capped — every document of the key appears ⌊q/n⌋ times and the
   * first (q mod n) documents in replayable rank order appear once
   * more, so each key lands exactly its quota and the output totals
   * exactly `totalBudget` rows. This is [[weightedMix]]'s
   * whole-copies-plus-remainder semantics made exact to the document:
   * weightedMix's fractional remainder is hash-bucket sampled
   * (~rate·n docs), here the remainder is the rank-order head (exactly
   * q mod n docs) — the difference that lets an oracle replay the cut.
   *
   * Output schema: the input columns plus `epoch` (1-based copy
   * index) — replicated rows are distinguishable, and a downstream
   * [[weightedMixShuffled]]-style order can key on it.
   *
   * Scale shape: apportionment identical to [[temperatureSample]];
   * per-key (copies, extra) ride the same BROADCAST (key, params)
   * frame; copy counts are decided on the (id, key) projection and the
   * wide columns join back ONCE (inner hash join) before a row-local
   * `explode(sequence(1, copies))` fans each kept document out to its
   * replicas — replication happens after the join, so a 40× up-weight
   * shuffles the wide text once, not 40 times.
   */
  def temperatureEpochMix(df: DataFrame, keyCol: String, idCol: String,
                          alpha: Double, totalBudget: Long,
                          maxDriverKeys: Int = 100000): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperatureEpochMix: alpha must be in (0, 1], got $alpha")
    require(totalBudget >= 0, s"temperatureEpochMix: negative budget $totalBudget")
    require(df.columns.forall(c => !c.startsWith("_ts_") && c != "epoch"),
      s"temperatureEpochMix: input must not carry _ts_*/epoch columns: ${df.columns.mkString(", ")}")
    // 1L, not 1: the normal path's explode(sequence(1L, copies)) types
    // epoch as bigint — an int-typed empty frame would fail unionByName
    // with any non-empty sibling (review finding r20)
    val none = df.withColumn("epoch", lit(1L)).where(lit(false))
    if (totalBudget == 0) return none
    val sorted = temperatureTargets(df, keyCol, idCol, alpha, totalBudget,
      maxDriverKeys, "temperatureEpochMix")
    if (sorted.isEmpty) return none
    import df.sparkSession.implicits._
    val params = broadcast(sorted.map { case (k, n, t) =>
      (k, t / n, t % n) // whole copies per doc, rank-head extras
    }.toDF("_ts_tk", "_ts_base", "_ts_extra"))
    val rank = rankFor(df.schema(idCol).dataType, col("_ts_id"))
    val w = Window.partitionBy(col("_ts_k")).orderBy(col("_ts_rank"), col("_ts_id"))
    val kept = df
      .select(col(idCol).as("_ts_id"), col(keyCol).cast("string").as("_ts_k"))
      .where(col("_ts_id").isNotNull)
      .withColumn("_ts_rank", rank)
      .withColumn("_ts_rn", row_number().over(w))
      .join(params, col("_ts_k") === col("_ts_tk"))
      .withColumn("_ts_copies",
        col("_ts_base") + when(col("_ts_rn") <= col("_ts_extra"), 1L).otherwise(0L))
      .where(col("_ts_copies") > 0)
      .select(col("_ts_id"), col("_ts_k"), col("_ts_copies"))
    df.join(kept,
        col(idCol) === col("_ts_id") && col(keyCol).cast("string") === col("_ts_k"))
      .withColumn("epoch", explode(sequence(lit(1L), col("_ts_copies"))))
      .drop("_ts_id", "_ts_k", "_ts_copies")
  }

  /**
   * Weighted corpus mixing: deterministically sample each source at
   * its rate (rates > 1 replicate whole copies plus a sampled
   * remainder — epoch up-weighting) and union. The building block of
   * training-mixture recipes.
   */
  def weightedMix(sources: Seq[(DataFrame, Double)], idCol: String,
                  seed: Long = 42L): DataFrame = {
    require(sources.nonEmpty, "weightedMix needs at least one source")
    val parts = mixCopies(sources, idCol, seed).map(_._2)
    require(parts.nonEmpty, "weightedMix: all rates were zero")
    parts.reduce(_ unionByName _)
  }

  /** ONE replication semantics behind [[weightedMix]] and
    * [[weightedMixShuffled]]: (globally unique copy index, copy
    * frame) per whole replica plus the bucket-sampled fractional
    * remainder of each source. */
  private def mixCopies(sources: Seq[(DataFrame, Double)], idCol: String,
                        seed: Long): Seq[(Long, DataFrame)] =
    sources.zipWithIndex.flatMap { case ((df, rate), i) =>
      require(rate >= 0, s"negative rate for source $i")
      val whole = rate.toInt
      val frac = rate - whole
      (0 until whole).map(c => (i.toLong * 100000 + c, df)) ++
        (if (frac > 0)
          Seq((i.toLong * 100000 + whole,
            df.where(bucket(col(idCol), seed + i) < (frac * Buckets).toLong)))
        else Seq.empty)
    }

  /**
   * Temperature-scaled mixing rates from corpus sizes — the standard
   * multi-source recipe (multilingual/LLM data mixes): each source's
   * sampling probability is proportional to size^alpha, so alpha = 1
   * keeps natural proportions, alpha = 0 is uniform over sources, and
   * intermediate values (0.2–0.7 in practice) up-weight small sources
   * without letting any one dominate. Returned rates are normalized
   * so the mixed corpus totals ~`targetRows`; feed them straight to
   * [[weightedMix]] (rates > 1 mean epoch replication of a small
   * source).
   *
   * `sizes` come from cheap count aggregates (or bookkeeper stats) —
   * this is a driver-side recipe computation, no Spark work here.
   */
  def temperatureRates(sizes: Seq[Long], alpha: Double,
                       targetRows: Long): Seq[Double] = {
    require(sizes.nonEmpty, "temperatureRates needs at least one source")
    require(sizes.forall(_ > 0), s"sizes must be positive: $sizes")
    require(alpha >= 0, s"alpha must be >= 0: $alpha")
    val weights = sizes.map(n => math.pow(n.toDouble, alpha))
    val total = weights.sum
    // expected rows from source i at rate r_i = r_i * n_i; solve
    // r_i = targetRows * (w_i / total) / n_i
    sizes.zip(weights).map { case (n, w) =>
      targetRows * (w / total) / n
    }
  }

  /**
   * [[weightedMix]] + [[globalShuffle]] fused: replicas created by
   * rates > 1 SHARE an id, so a plain globalShuffle (key =
   * hash(seed, id)) would sort an up-weighted document's copies
   * back-to-back — exactly the grouped-batch bias the shuffle
   * removes. Fusing lets each copy carry its replica index into the
   * shuffle key (copies spread uniformly through the training
   * order), then drops it — the output schema matches the inputs'.
   */
  def weightedMixShuffled(sources: Seq[(DataFrame, Double)], idCol: String,
                          seed: Long = 42L, numPartitions: Int = 0): DataFrame = {
    require(sources.nonEmpty, "weightedMixShuffled needs at least one source")
    val parts = mixCopies(sources, idCol, seed)
      .map { case (copy, df) => df.withColumn("_mix_copy", lit(copy)) }
    require(parts.nonEmpty, "weightedMixShuffled: all rates were zero")
    val mixed = parts.reduce(_ unionByName _)
    val keyed = mixed.withColumn("_shuffle_key",
      xxhash64(lit(seed), col(idCol), col("_mix_copy")))
    val ranged =
      if (numPartitions > 0) keyed.repartitionByRange(numPartitions, col("_shuffle_key"))
      else keyed.repartitionByRange(col("_shuffle_key"))
    ranged.sortWithinPartitions(col("_shuffle_key"), col(idCol))
      .drop("_shuffle_key", "_mix_copy")
  }

  /**
   * Deterministic GLOBAL corpus shuffle — the final pre-training
   * reorder: curated corpora arrive grouped (by source, crawl, dedup
   * cluster, pack order), and training on grouped data biases every
   * batch; the fix is a full random-but-reproducible permutation.
   * CAVEAT: rows sharing an id (the replicas [[weightedMix]] creates
   * for rates > 1) share a sort key and stay ADJACENT — shuffle such
   * corpora with [[weightedMixShuffled]], which disambiguates copies.
   * Each row's sort key is `xxhash64(seed, id)`, so the permutation
   * is a pure function of (ids, seed): stable across partitioning,
   * cluster size, retries and re-runs — rerunning a failed shuffle
   * stage cannot silently reorder training data between checkpoints.
   *
   * Scale shape: ONE range-partitioned shuffle
   * (`repartitionByRange` on the hash key + in-partition sort), the
   * same cost as any global sort of the corpus, with the total order
   * defined across output partitions — writing the result preserves
   * training order through `spark.read` of the numbered files. The
   * key column is dropped after the sort (a projection does not
   * reorder rows). `numPartitions <= 0` keeps the session default.
   */
  def globalShuffle(df: DataFrame, idCol: String, seed: Long = 42L,
                    numPartitions: Int = 0): DataFrame = {
    val key = xxhash64(lit(seed), col(idCol)).as("_shuffle_key")
    val keyed = df.withColumn("_shuffle_key", key)
    val ranged =
      if (numPartitions > 0) keyed.repartitionByRange(numPartitions, col("_shuffle_key"))
      else keyed.repartitionByRange(col("_shuffle_key"))
    ranged.sortWithinPartitions(col("_shuffle_key"), col(idCol))
      .drop("_shuffle_key")
  }

  /**
   * Curriculum / annealed data ordering: the corpus ordered by rising
   * quality TIER (documents bucketed by `scoreCol` against the given
   * ascending `tierBounds`), deterministically shuffled WITHIN each
   * tier — the "finish training on the best data" schedule
   * (quality-annealing as practiced in modern pre-training data
   * recipes), with the in-tier shuffle preserving the unbiased-batch
   * property inside every phase. Set `descending = true` to lead with
   * the best data instead.
   *
   * Same scale shape and determinism contract as [[globalShuffle]]
   * (which is the `tierBounds = Nil` degenerate case): ONE
   * range-partitioned exchange on (tier, hash), total order across
   * numbered output files, a pure function of (scores, ids, seed).
   * Null scores land in the lowest tier — order them out explicitly
   * upstream if that is wrong for the caller.
   */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
                      tierBounds: Seq[Double], seed: Long = 42L,
                      descending: Boolean = false,
                      numPartitions: Int = 0): DataFrame = {
    require(tierBounds == tierBounds.sorted,
      s"tierBounds must be ascending: $tierBounds")
    val rawTier = tierBounds.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (bound, i)) => when(col(scoreCol) >= bound, i + 1).otherwise(acc)
    }
    val tier = if (descending) lit(tierBounds.length) - rawTier else rawTier
    val keyed = df
      .withColumn("_tier", tier)
      .withColumn("_shuffle_key", xxhash64(lit(seed), col(idCol)))
    val ranged =
      if (numPartitions > 0)
        keyed.repartitionByRange(numPartitions, col("_tier"), col("_shuffle_key"))
      else keyed.repartitionByRange(col("_tier"), col("_shuffle_key"))
    ranged.sortWithinPartitions(col("_tier"), col("_shuffle_key"), col(idCol))
      .drop("_tier", "_shuffle_key")
  }
}
