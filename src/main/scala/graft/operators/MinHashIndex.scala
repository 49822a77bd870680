package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Incremental near-dup detection against a PERSISTED corpus index —
 * the production shape of dedup: yesterday's 100 TB corpus is already
 * deduplicated and indexed; today's ingest batch must be checked
 * against it WITHOUT re-scanning, re-shingling or re-pairing the
 * historical corpus.
 *
 * The index stores ONE row per document: (id, minhash signature) —
 * k longs (~0.5 KB at k=64), 3-4 orders of magnitude smaller than the
 * text. Probing derives band hashes ROW-LOCALLY on both sides (the
 * banding is a per-row expression over the signature, so the index
 * needs no band explosion on disk), prefilters the index scan against
 * the batch's bucket set (InSet literal for small sets, Bloom filter
 * beyond [[InSetPrefilterMax]]) — a row-local filter, so the only
 * index rows that ever explode or
 * shuffle are those sharing at least one band bucket with the batch —
 * and verifies candidates by the standard MinHash Jaccard estimate
 * (fraction of equal signature components), computed from the two
 * signatures alone: the historical TEXT is never read at all.
 *
 * The batch side is the small side by contract (an incremental
 * slice); its bucket set collects to the driver (batch × bands
 * longs, hard-capped) and its banded rows broadcast into the
 * candidate join. Batch-INTERNAL duplicates are the normal
 * [[Dedup]] path's job — this operator answers "is it already in the
 * corpus", not "is it repeated within today".
 */
object MinHashIndex {

  /** Largest bucket set compiled to an isin/InSet literal; larger sets
    * switch to a Bloom-filter prefilter (see [[matches]]). 256k longs
    * keeps the In expression ~2 MB — well under plan-serialization
    * pain, far above the typical incremental batch. */
  val InSetPrefilterMax = 262144

  /** Bumped whenever the tokenization/normalization feeding signatures
    * changes semantically (r17: trim-then-collapse → collapse-then-trim
    * closed the phantom-boundary-token class). Stamped into the index;
    * probes refuse an index built under a different revision. */
  val NormalizationRevision = 2L

  /** The index rows: (idCol, sig). Write this as parquet — it IS the
    * persisted index ([[writeIndex]]): probing a STORED sig column
    * derives band hashes from an attribute, while probing the lazy
    * frame re-inlines the signature expression into every consumer
    * (measured at ~100x slower on the correctness fixtures). Tokens
    * and shingles are materialized as columns first — passing a raw
    * shingle expression into the signature would re-run it k times
    * per row (see minhashSignatureFromShingles). */
  def buildIndex(docs: DataFrame, textCol: String, idCol: String,
                 shingleSize: Int = 3, k: Int = 64): DataFrame = {
    graft.expr.GraftFunctions.ensure(docs.sparkSession)
    // signature parameters ride the sig column's metadata (parquet
    // round-trips Spark column metadata), so matches() can refuse a
    // probe whose k/shingleSize silently disagree with the index's
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.k", k.toLong)
      .putLong("graft.minhash.shingleSize", shingleSize.toLong)
      .putLong("graft.minhash.norm", NormalizationRevision)
      .build()
    // sig is NULL for docs with fewer than shingleSize tokens: the
    // native minhash_sig maps an empty shingle set to a constant
    // sentinel, and before r16 every sub-shingle-length document
    // therefore shared one signature — est_jaccard exactly 1.0
    // between ANY two short docs, so the incremental loop silently
    // dropped every short document after the first one indexed. A
    // null sig never bands, never matches, and short docs always pass
    // through as new (their exact duplicates remain Dedup.exact's
    // job, per this operator's contract).
    docs
      .withColumn("_toks", TextFunctions.tokens(col(textCol)))
      .withColumn("_sh", graft.expr.GraftFunctions.wordShingles(col("_toks"), shingleSize))
      .select(col(idCol),
        when(size(col("_sh")) > 0, graft.expr.GraftFunctions.minhashSig(col("_sh"), k))
          .as("sig", meta))
  }

  def writeIndex(docs: DataFrame, textCol: String, idCol: String, path: String,
                 shingleSize: Int = 3, k: Int = 64): Unit =
    buildIndex(docs, textCol, idCol, shingleSize, k)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Band-salted bucket hashes derived row-locally from a signature:
    * band b's hash covers its slice AND the band index, so a single
    * hash column is join-safe across bands. */
  private def bandHashes(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * r + 1, lit(r))))

  /** MinHash Jaccard estimate between two k-long signatures. */
  private def estJaccard(a: Column, b: Column, k: Int): Column =
    round(aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k, 6)

  /**
   * Candidate matches of a new batch against a stored index:
   * (batch_id, index_id, est_jaccard >= threshold). `index` is
   * [[buildIndex]] output (read back from parquet); signature
   * parameters must match the index's.
   */
  def matches(batch: DataFrame, textCol: String, idCol: String,
              index: DataFrame, indexIdCol: String,
              threshold: Double = 0.8,
              shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
              maxBatchBuckets: Int = 5000000,
              inSetMax: Int = InSetPrefilterMax): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    // a probe whose signature parameters disagree with the index's
    // produces silently-wrong candidates, not an error — so check the
    // parameters buildIndex stamped into the sig metadata (zero-job;
    // parquet preserves column metadata). A foreign index without the
    // stamp pays a one-row size probe for the k check instead.
    val sigMeta = index.schema.find(_.name == "sig").map(_.metadata)
    sigMeta match {
      case Some(m) if m.contains("graft.minhash.k") =>
        require(m.getLong("graft.minhash.k") == k.toLong,
          s"probe k=$k but index was built with k=${m.getLong("graft.minhash.k")}")
        require(m.getLong("graft.minhash.shingleSize") == shingleSize.toLong,
          s"probe shingleSize=$shingleSize but index was built with " +
            s"shingleSize=${m.getLong("graft.minhash.shingleSize")}")
        // normalization REVISION (r17 meta-review): the tokens() chain
        // changed in r17 (collapse-then-trim), so signatures computed
        // by a newer library over boundary-whitespace text disagree
        // with a pre-r17 index's — already-indexed documents would
        // silently re-admit as "fresh". An index stamped with an older
        // (or missing) revision must REBUILD, not mis-probe.
        val indexNorm =
          if (m.contains("graft.minhash.norm")) m.getLong("graft.minhash.norm") else 1L
        require(indexNorm == NormalizationRevision,
          s"index was built under text-normalization revision $indexNorm; this library " +
            s"computes revision $NormalizationRevision signatures — rebuild the index " +
            "(writeIndex/buildIndex) before probing, or probes silently re-admit known docs")
      case _ =>
        index.where(col("sig").isNotNull).select(size(col("sig"))).take(1).foreach(row =>
          require(row.getInt(0) == k,
            s"probe k=$k but index signatures have ${row.getInt(0)} components"))
    }
    val r = k / bands
    // null sigs (sub-shingle-length docs) never band or match
    val b = buildIndex(batch, textCol, idCol, shingleSize, k)
      .where(col("sig").isNotNull)
      .withColumn("_bh", bandHashes(col("sig"), bands, r))
      .localCheckpoint() // signatures are reused for buckets + join + verify
    // the batch's bucket set: |batch| x bands longs, driver-bounded —
    // this cap is what makes "batch" mean batch. The cap check FREES
    // the checkpoint on failure: a long-lived session probing
    // oversized batches must not accumulate orphaned blocks.
    val buckets = try {
      val bs = DriverCollect.collectAtMost(
        b.select(explode(col("_bh")).as("h")).distinct(), maxBatchBuckets)
      require(bs.isDefined,
        s"batch bucket set exceeds maxBatchBuckets=$maxBatchBuckets — this path is for " +
          "incremental slices; dedup corpus-vs-corpus with Dedup.minhashCandidates")
      bs.get.map(_.getLong(0))
    } catch {
      case e: Throwable => CheckpointDiscipline.freeLocalCheckpoint(b); throw e
    }
    if (buckets.isEmpty)
      // index_id's TYPE comes from the index side — deriving it from
      // the batch id would give the empty result a different schema
      // than the non-empty one whenever the two id types differ
      return b.select(col(idCol).as("batch_id"), lit(0.0d).as("est_jaccard"))
        .where(lit(false))
        .crossJoin(index.select(col(indexIdCol).as("index_id")).where(lit(false)))
        .select(col("batch_id"), col("index_id"), col("est_jaccard"))
    // row-local prefilter BEFORE any explode/shuffle: only index rows
    // sharing a band bucket with the batch survive the scan.
    // Two tiers by bucket-set size: below the InSet threshold,
    // exists + isin — the optimizer compiles the IN list to ONE shared
    // hash set (InSet), so each index row pays bands lookups
    // (arrays_overlap would re-walk the whole bucket literal per row).
    // ABOVE it, a literal In expression of millions of nodes is itself
    // the failure (driver memory + per-task plan serialization), so the
    // prefilter becomes a Bloom filter over the bucket set riding the
    // plan as one binary literal (~1.2 MB per million buckets at 1%
    // fpp), probed via the native codegen'd `bloom_might_contain` so
    // the index scan stays inside whole-stage codegen — no UDF. Bloom
    // false positives only admit extra index rows into the candidate
    // join, which discards them on the exact band hash — correctness
    // is unaffected.
    val bucketFilter =
      if (buckets.length <= inSetMax)
        exists(col("_bh"), h => h.isin(buckets.toIndexedSeq: _*))
      else {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(buckets.length.toLong, 0.01)
        buckets.foreach(bf.putLong)
        val bfBytes = graft.expr.BloomMightContain.serialize(bf)
        exists(col("_bh"), h => graft.expr.GraftFunctions.bloomMightContain(h, bfBytes))
      }
    val probe = index
      .where(col("sig").isNotNull)
      .withColumn("_bh", bandHashes(col("sig"), bands, r))
      .where(bucketFilter)
      .select(col(indexIdCol).as("index_id"), col("sig").as("_isig"),
        explode(col("_bh")).as("h"))
    val batchBanded = b
      .select(col(idCol).as("batch_id"), col("sig").as("_bsig"),
        explode(col("_bh")).as("h"))
    // stays LAZY (plan-shape introspection and composition depend on
    // it); the batch-signature checkpoint under it is released by the
    // consumers that materialize the result (appendNewDocs,
    // Decontaminate.nearContaminatedIds) via
    // CheckpointDiscipline.freeLocalCheckpoint on the pre-checkpoint
    // frame — whose plan still carries `b` as a LogicalRDD leaf.
    probe.join(broadcast(batchBanded), "h")
      .dropDuplicates("batch_id", "index_id")
      .withColumn("est_jaccard", estJaccard(col("_bsig"), col("_isig"), k))
      .where(col("est_jaccard") >= threshold)
      .select(col("batch_id"), col("index_id"), col("est_jaccard"))
  }

  /** The batch minus documents already present (near or exact) in the
    * indexed corpus — what an incremental ingest appends. */
  def newDocsOnly(batch: DataFrame, textCol: String, idCol: String,
                  index: DataFrame, indexIdCol: String,
                  threshold: Double = 0.8,
                  shingleSize: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    val dup = matches(batch, textCol, idCol, index, indexIdCol,
      threshold, shingleSize, k, bands).select(col("batch_id")).distinct()
    batch.join(broadcast(dup), col(idCol) === col("batch_id"), "left_anti")
  }

  /**
   * The full incremental-ingest loop: probe today's batch against the
   * persisted index, keep only documents the corpus has never seen
   * (near OR exact), APPEND their signatures to the index, and return
   * the fresh documents for the rest of the pipeline. Day N+1 probes
   * an index that already knows day N — the index grows by one
   * (id, sig) row per genuinely-new document, ~0.5 KB each, while the
   * corpus text is never re-read.
   *
   * The returned frame is materialized BEFORE the append (the append
   * must not observe its own output, and a lazy result re-evaluated
   * after the append would probe a different index than the one that
   * filtered it). Batch-internal duplicates remain the batch
   * pipeline's job ([[Dedup.exact]] before calling this); signature
   * parameters must match the index's (enforced via the metadata
   * stamp).
   */
  def appendNewDocs(batch: DataFrame, textCol: String, idCol: String,
                    indexPath: String, threshold: Double = 0.8,
                    shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
                    /** Runs over the materialized fresh docs BEFORE
                      * their signatures append to the index. An
                      * at-least-once caller (the streaming ingest)
                      * commits its durable output here: a crash after
                      * the commit but before the append re-delivers
                      * the batch as detectable DUPLICATES, whereas
                      * append-then-commit turned the same crash into
                      * silent LOSS — the replay re-probed an index
                      * that already knew the docs, got an empty fresh
                      * set, and the documents never reached the sink
                      * (r17 review). */
                    beforeAppend: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val index = spark.read.parquet(indexPath)
    val lazyFresh = newDocsOnly(batch, textCol, idCol, index, idCol,
      threshold, shingleSize, k, bands)
    val fresh = lazyFresh.localCheckpoint(true)
    // the probe's batch-signature checkpoint (a LogicalRDD leaf of the
    // pre-checkpoint plan) is dead once `fresh` is materialized
    CheckpointDiscipline.freeLocalCheckpoint(lazyFresh)
    beforeAppend(fresh)
    buildIndex(fresh, textCol, idCol, shingleSize, k)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(indexPath)
    fresh
  }
}
