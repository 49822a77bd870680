package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns as pure column
 * expressions (`zip_with`/`aggregate`) — codegen-adjacent, executor-
 * side, no UDF serialization. */
object VectorMath {
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** Codegen'd cosine via the native `CosineSimilarity` expression —
    * same semantics as `cosine`, compiled to a primitive loop. Callers
    * must `GraftFunctions.ensure(spark)` once per session (operator
    * entry points do). */
  def cosineFast(a: Column, b: Column): Column =
    graft.expr.GraftFunctions.cosineSim(a, b)

  /** Literal column from a driver-side vector (for query points /
   * hyperplanes). `typedlit` emits ONE Literal node holding the whole
   * array — `array(lit, lit, …)` would emit dim× nodes and blow up
   * the expression tree (slow analysis + Janino codegen) when dozens
   * of planes/centroids are embedded in a single predicate. */
  def vecLit(v: Array[Double]): Column = typedlit(v.toSeq)
}

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * Scale story: `bruteForce` is the exact baseline — one scan of the
 * big side, queries broadcast, per-query top-k via partial
 * `TakeOrdered`-style aggregation; no shuffle of the embedding table.
 * `lshTopK` (random hyperplanes) and `ivfTopK` (k-means coarse
 * quantizer) bucket the big side once and probe only matching
 * buckets, trading recall for a >10× scan reduction at 100 TB.
 */
object AnnSearch {

  /** Exact top-k for a single query vector: one pass + global top-k
   * (Spark plans orderBy+limit as TakeOrderedAndProject — partial
   * top-k per partition, k rows to the driver, never a full sort). */
  def bruteForce(embeddings: DataFrame, vecCol: String, idCol: String,
                 query: Array[Double], k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    embeddings.select(col(idCol),
        round(VectorMath.cosineFast(col(vecCol), VectorMath.vecLit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact top-k for a set of queries (small, broadcast): cross join
   * against the broadcast queries, then a BOUNDED per-query top-k via
   * the partial-aggregating `top_k_rows` heap aggregate — the map
   * side emits ≤ k rows per query per partition, so the one shuffle
   * carries ≤ k × queries × partitions tiny rows no matter how big
   * the corpus is. (A `Window.partitionBy(query_id)` formulation
   * would instead shuffle corpus × queries scored rows into #queries
   * reducers — the multi-query scale-killer this replaces.) */
  def bruteForceMulti(embeddings: DataFrame, vecCol: String, idCol: String,
                      queries: DataFrame, queryVecCol: String, queryIdCol: String,
                      k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    val scored = embeddings.crossJoin(broadcast(
        queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("_qv"))))
      .select(col("query_id"),
        struct(round(VectorMath.cosineFast(col(vecCol), col("_qv")), 6).as("cosine"),
          col(idCol)).as("_scored"))
    topKPerQuery(scored, idCol, k)
  }

  /**
   * Hard-negative mining for contrastive embedding training (DPR /
   * sentence-encoder data prep): for each anchor, the k most-similar
   * corpus vectors whose LABEL differs — the negatives that actually
   * move a contrastive loss, where random negatives are trivially
   * separable. The label-mismatch predicate rides BEFORE the top-k
   * heap, so the result is the exact top-k AMONG different-label rows
   * — top-k-overall-then-filter would return short (or empty) lists
   * exactly where neighborhoods are label-pure, i.e. where hard
   * negatives matter most. The anchor itself can never appear (its
   * label matches). Same scale shape as [[bruteForceMulti]]: anchors
   * broadcast with their labels, ONE corpus scan, the `top_k_rows`
   * heap bounds the only shuffle to O(k × anchors × partitions).
   */
  def hardNegatives(embeddings: DataFrame, vecCol: String, idCol: String,
                    labelCol: String,
                    anchors: DataFrame, anchorVecCol: String,
                    anchorIdCol: String, anchorLabelCol: String,
                    k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    val scored = embeddings.crossJoin(broadcast(
        anchors.select(col(anchorIdCol).as("query_id"),
          col(anchorVecCol).as("_qv"), col(anchorLabelCol).as("_ql"))))
      .where(col(labelCol) =!= col("_ql"))
      .select(col("query_id"),
        struct(round(VectorMath.cosineFast(col(vecCol), col("_qv")), 6).as("cosine"),
          col(idCol)).as("_scored"))
    topKPerQuery(scored, idCol, k)
  }

  /** groupBy(query_id) + heap-aggregate a `_scored` struct(cosine, id)
   * column down to k rows, exploded back to (query_id, id, cosine)
   * best-first. Shared by every multi-query probe path. */
  private[graft] def topKPerQuery(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    // output columns query_id/cosine are fixed; an id column by either
    // name would produce a duplicate-name result that breaks callers
    require(idCol != "query_id" && idCol != "cosine",
      s"topKPerQuery: id column '$idCol' collides with a reserved output column")
    scored.groupBy("query_id")
      .agg(graft.expr.GraftFunctions.topKRows(col("_scored"), k).as("_tk"))
      .select(col("query_id"), explode(col("_tk")).as("_e"))
      // getField, not col("_e.$idCol"): an id column named e.g. "a.b"
      // would be mis-parsed as a nested path by the string form
      .select(col("query_id"), col("_e").getField(idCol).as(idCol),
        col("_e").getField("cosine").as("cosine"))
  }

  /** Deterministic random hyperplanes (seeded) for sign-bit LSH. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id from `bits` hyperplanes (random projection LSH). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorMath.dot(vec, VectorMath.vecLit(p)) > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /**
   * Per-table LSH bucket ids as ONE array<long> column. All
   * tables×bits hyperplanes live in a single literal matrix traversed
   * by one lambda, so the expression tree (and Catalyst
   * analysis/codegen time) stays O(1) in tables×bits — the naive
   * per-plane tree made plan compilation, not data, the bottleneck.
   */
  def lshBucketsAll(vec: Column, planeSets: Array[Array[Array[Double]]]): Column = {
    val bits = planeSets(0).length
    val flat: Seq[Seq[Double]] = planeSets.flatten.map(_.toSeq).toSeq
    // native codegen'd expression — one primitive dot loop per plane
    // (callers GraftFunctions.ensure the session)
    graft.expr.GraftFunctions.lshBuckets(vec, flat, bits)
  }

  /** Driver-side bucket ids of a query vector, matching `lshBucketsAll`. */
  def queryBuckets(query: Array[Double], planeSets: Array[Array[Array[Double]]]): Seq[Long] =
    planeSets.toIndexedSeq.map { ps =>
      ps.zipWithIndex.map { case (p, i) =>
        if (p.zip(query).map { case (a, b) => a * b }.sum > 0) 1L << i else 0L
      }.reduce(_ | _)
    }

  /**
   * LSH top-k: probe only vectors whose bucket matches the query's
   * bucket in any of `tables` independent hash tables. Recall grows
   * with tables; scanned fraction ≈ tables / 2^bits.
   */
  def lshTopK(embeddings: DataFrame, vecCol: String, idCol: String,
              query: Array[Double], k: Int, bits: Int = 8, tables: Int = 4,
              seed: Long = 42L): DataFrame = {
    val dim = query.length
    val planeSets = Array.tabulate(tables)(t => hyperplanes(dim, bits, seed + t))
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    val qb = typedlit(queryBuckets(query, planeSets))
    val matchesAny =
      exists(zip_with(lshBucketsAll(col(vecCol), planeSets), qb, (b, q) => b === q), x => x)
    embeddings.where(matchesAny)
      .select(col(idCol),
        round(VectorMath.cosineFast(col(vecCol), VectorMath.vecLit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /**
   * K-means coarse quantizer (Lloyd's, few iterations). Centroids are
   * the only driver-side state (k × dim doubles) — assignments stay
   * distributed; each iteration is one map + one groupBy shuffle.
   *
   * At or below [[DriverCollect.DriverFitMaxRows]] non-null vectors
   * the fit runs on the driver instead: one limit-guarded collect
   * fetches the vectors, their seeding hashes come from Spark's own
   * hash expressions, and [[kmeansLocal]] runs the same seeding and
   * Lloyd rounds there.
   * The driver then holds at most 10k vectors as double arrays (1.3 MB
   * at dim 16, 82 MB at dim 1024) plus k × dim sums per round. At
   * curation sizes the distributed fit is 2 + iters Spark jobs whose
   * per-job latency, not the data, sets its wall time.
   */
  def kmeansCentroids(embeddings: DataFrame, vecCol: String,
                      k: Int, iters: Int = 5, seed: Long = 42L): Array[Array[Double]] =
    kmeansGated(embeddings, vecCol, k, iters, seed, DriverCollect.DriverFitMaxRows)

  /** [[kmeansCentroids]] with the driver-fit gate as an argument; a
    * negative gate always runs the distributed fit, the reference the
    * driver path must reproduce. */
  private[operators] def kmeansGated(embeddings: DataFrame, vecCol: String, k: Int,
                                     iters: Int, seed: Long,
                                     driverFitMaxRows: Int): Array[Array[Double]] = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    collectHashed(embeddings, vecCol, None, seed, driverFitMaxRows) match {
      case Some(rows) => kmeansLocal(rows, k, iters)
      case None =>
        // The fit scans its input 1 + iters times (seed selection, then
        // one assignment-aggregate per round). Cache the PROJECTED
        // vector column for the fit's lifetime (MEMORY_AND_DISK — at
        // corpus scale the overflow spills instead of evicting), the
        // MLlib KMeans discipline: without it every round re-runs
        // whatever upstream produced the embeddings (a decode, a
        // projection, a union), which turns an O(iters) fit into
        // O(iters × upstream).
        val vecs = embeddings.select(col(vecCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try kmeansOnCached(vecs, vecCol, k, iters, seed)
        finally { vecs.unpersist(); () }
    }
  }

  /** One non-null embedding row as the driver-side fits see it: the
    * optional integral id (as a long), the vector promoted to double,
    * the 1-based position of its first null element (0 if none; the
    * element itself decodes as 0.0), and the two hashes Spark computes
    * for the distributed fit — `h = xxhash64(vec)` (identity) and
    * `ord = xxhash64(cast(vec AS string), seed)` (seeding order). */
  private[operators] final case class HashedVec(id: Option[Long], vec: Array[Double],
                                                firstNull: Int, h: Long, ord: Long) {
    /** The vector, failing where `nearest_centroid` would on a null
      * element. */
    def checked: Array[Double] =
      if (firstNull == 0) vec else throw graft.expr.NearestCentroid.nullElement(firstNull - 1)
  }

  /** The non-null vectors of `embeddings` as [[HashedVec]]s in one
    * limit-guarded collect, or None above `maxRows`. `idCol` must be
    * integral when given. The collect fetches ids and vectors only: the
    * two hashes are Spark's own `xxhash64` and cast expressions, built
    * as the distributed fit writes them and evaluated on the driver over
    * the collected arrays, so an input above the gate spends no hashing
    * on the rows it discards. An input Spark already knows to hold more
    * than `maxRows` rows, nulls included, skips the collect. */
  private[operators] def collectHashed(embeddings: DataFrame, vecCol: String,
                                       idCol: Option[String], seed: Long,
                                       maxRows: Int): Option[Array[HashedVec]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.StringType
    val v = col(vecCol)
    val vec = BoundReference(0, embeddings.schema(vecCol).dataType, nullable = false)
    // xxhash64(vec) and xxhash64(cast(vec AS string), seed): the
    // column function's hash seed is 42, and `seed` is a second input
    val identity = XxHash64(Seq(vec), 42L)
    val order = XxHash64(Seq(Cast(vec, StringType), Literal(seed)), 42L)
    if (DriverCollect.knownAbove(embeddings, maxRows)) None
    else DriverCollect.collectAtMost(
      embeddings.where(v.isNotNull)
        .select(idCol.fold(lit(null).cast("long"))(c => col(c).cast("long")), v),
      maxRows).map(_.map { r =>
      val elems = r.getSeq[Any](1).toArray
      val row = InternalRow(new GenericArrayData(elems))
      HashedVec(if (r.isNullAt(0)) None else Some(r.getLong(0)),
        elems.map { case x: java.lang.Number => x.doubleValue(); case _ => 0.0 },
        elems.indexOf(null) + 1,
        identity.eval(row).asInstanceOf[Long], order.eval(row).asInstanceOf[Long])
    })
  }

  /** The distributed fit computed on the driver from collected rows:
    * the same seeds (per identity hash `h` its least `ord`, then the k
    * smallest by (ord, h)) and the same Lloyd rounds, assigning through
    * [[graft.expr.NearestCentroid.closest]]; an empty cluster keeps its
    * centroid. Centroids differ from the distributed sums only in the
    * order of the floating-point additions. Shared by
    * [[kmeansCentroids]], [[Clustering.fit]] and [[SemDeDup]]. */
  private[operators] def kmeansLocal(rows: Array[HashedVec], k: Int,
                                     iters: Int): Array[Array[Double]] = {
    val seedOf = scala.collection.mutable.LongMap.empty[HashedVec]
    rows.foreach { r =>
      if (seedOf.get(r.h).forall(_.ord > r.ord)) seedOf(r.h) = r
    }
    var centroids = seedOf.values.toArray.sortBy(r => (r.ord, r.h)).take(k).map(_.vec)
    for (_ <- 1 to iters) {
      require(centroids.nonEmpty, "nearest_centroid: empty centroid matrix")
      val d = centroids(0).length
      val sums = Array.fill(centroids.length)(new Array[Double](d))
      val counts = new Array[Long](centroids.length)
      rows.foreach { r =>
        val c = graft.expr.NearestCentroid.closest(r.checked, centroids)
        val s = sums(c)
        var j = 0
        while (j < d) { s(j) += r.vec(j); j += 1 }
        counts(c) += 1
      }
      centroids = Array.tabulate(centroids.length) { c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else centroids(c)
      }
    }
    centroids
  }

  private def kmeansOnCached(embeddings0: DataFrame, vecCol: String,
                             k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    // init from DISTINCT vectors: a corpus with duplicated embeddings
    // (near-dup docs, replicated epochs) would otherwise seed the same
    // point several times and permanently collapse those clusters.
    // Distinctness is decided on an 8-byte fingerprint so the seed
    // selection shuffles (hash, order) pairs, never the wide vectors —
    // a full-vector distinct() would hash-shuffle the whole table for
    // k seed rows. The winning hashes broadcast back to fetch vectors.
    // null vectors can't cluster and would otherwise surface as an
    // opaque driver NPE (a null _c group whose vector_sum is null):
    // failed-inference rows are routine in embedding pipelines, so
    // drop them here, loudly documented, instead of dying mid-fit
    val embeddings = embeddings0.where(col(vecCol).isNotNull)
    var centroids: Array[Array[Double]] = {
      val hashed = embeddings.select(col(vecCol).as("_v"),
        xxhash64(col(vecCol)).as("_h"),
        xxhash64(col(vecCol).cast("string"), lit(seed)).as("_ord"))
      val seedHashes = hashed.groupBy(col("_h")).agg(min(col("_ord")).as("_o"))
        .orderBy(col("_o")).limit(k) // TakeOrdered over 16-byte rows
      hashed.join(broadcast(seedHashes), "_h")
        .where(col("_ord") === col("_o"))
        .dropDuplicates("_h") // g copies of a seed vector tie on _ord
        // ordered final collect: without it the centroid ORDER — hence
        // cluster ids, IVF cell directory names, SQ8 partition layout —
        // would depend on partition layout, breaking cross-run
        // reproducibility of persisted indexes. ≤ k rows; sort is free.
        .orderBy(col("_o"), col("_h")).select(col("_v")).limit(k)
        // element type follows the column (array<float> OR
        // array<double> — every native vector expression accepts
        // both); a hardcoded getSeq[Float] would ClassCastException
        // on double embeddings
        .collect().map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    }
    for (_ <- 1 to iters) {
      val assigned = embeddings.withColumn("_c", nearestCentroid(col(vecCol), centroids))
      // ONE array-summing aggregate keeps the plan O(1) in dim — the
      // per-element `sum(element_at(vec, i))` formulation would put
      // dim aggregate expressions into Catalyst/Janino and stall the
      // driver at production dims (1024–4096). See expr.VectorSum.
      val sums = assigned.groupBy("_c")
        .agg(count(lit(1)).as("n"),
          graft.expr.GraftFunctions.vectorSum(col(vecCol)).as("s"))
        .collect()
      val updated = centroids.clone()
      sums.foreach { r =>
        val c = r.getAs[Int]("_c"); val n = r.getAs[Long]("n")
        if (n > 0) updated(c) = r.getSeq[Double](2).map(_ / n).toArray
      }
      centroids = updated
    }
    centroids
  }

  /** Nearest centroid (L2) as a `struct(d, i)` column — squared
   * distance and index — from one lambda over a literal centroid
   * matrix (tree size O(1) in k). Shared by IVF assignment and
   * Clustering so the two can never disagree on tie-breaks. */
  def nearestCentroidScored(vec: Column, centroids: Array[Array[Double]]): Column =
    // native codegen'd k·d loop (expr.NearestCentroid) — the HOF
    // formulation (transform over centroids, aggregate(zip_with) per
    // centroid) evaluated interpreted per element and dominated every
    // k-means iteration and assignment scan. Same semantics to the
    // bit: sequential accumulation, float→double promotion,
    // array_min's (distance, index) tie-break, NaN ordered greatest.
    graft.expr.GraftFunctions.nearestCentroid(
      vec, graft.expr.NearestCentroid.serialize(centroids))

  /** Index of the nearest centroid (L2). */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    nearestCentroidScored(vec, centroids).getField("i").cast("int")

  /** The `nprobe` cell ids nearest to a query (driver-side: k×dim doubles). */
  def probeCells(query: Array[Double], centroids: Array[Array[Double]],
                 nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(_._1).take(nprobe).map(_._2).toIndexedSeq

  /**
   * IVF top-k over a raw table: assigns cells inline, then probes the
   * `nprobe` cells nearest to the query. For repeated querying use the
   * PERSISTED index ([[writeIvfIndex]] + [[ivfTopKIndexed]]) — this
   * inline form re-computes every row's cell per query.
   */
  def ivfTopK(embeddings: DataFrame, vecCol: String, idCol: String,
              query: Array[Double], k: Int, centroids: Array[Array[Double]],
              nprobe: Int = 2): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    ivfTopKIndexed(ivfIndex(embeddings, vecCol, centroids), vecCol, idCol,
      query, k, centroids, nprobe)
  }

  /** The IVF index as data: the table plus its persisted `cell` column. */
  def ivfIndex(embeddings: DataFrame, vecCol: String,
               centroids: Array[Array[Double]]): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    embeddings.withColumn("cell", nearestCentroid(col(vecCol), centroids))
  }

  /**
   * Materialize the IVF index partitioned BY CELL — the production
   * layout: each probe then touches only `nprobe` of k partition
   * directories (partition pruning at the file level), so a query
   * against a 100 TB index reads nprobe/k of the files and computes
   * zero cell assignments. Write once, probe many.
   */
  def writeIvfIndex(embeddings: DataFrame, vecCol: String, path: String,
                    centroids: Array[Array[Double]]): Unit =
    ivfIndex(embeddings, vecCol, centroids)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)

  /**
   * Probe an indexed table (a `cell` column present — e.g. read back
   * from [[writeIvfIndex]]): no per-row cell computation; the cell
   * filter prunes partitions when the index is cell-partitioned.
   */
  def ivfTopKIndexed(indexed: DataFrame, vecCol: String, idCol: String,
                     query: Array[Double], k: Int, centroids: Array[Array[Double]],
                     nprobe: Int = 2): DataFrame = {
    graft.expr.GraftFunctions.ensure(indexed.sparkSession)
    val cells = probeCells(query, centroids, nprobe)
    indexed.where(col("cell").isin(cells: _*))
      .select(col(idCol),
        round(VectorMath.cosineFast(col(vecCol), VectorMath.vecLit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /**
   * Batched probe of a persisted IVF index — the production "embed a
   * batch, probe the index" shape. The union of every query's probe
   * cells becomes ONE static `isin` filter, so a cell-partitioned
   * index still prunes to ≤ queries × nprobe of k partition dirs at
   * plan time; the (query_id, cell, vector) probe rows broadcast-join
   * on `cell`, so each index row is scored only against the queries
   * that actually probed its cell; the bounded `top_k_rows` heap
   * aggregate keeps the single shuffle at ≤ k rows per query per
   * partition (no corpus-sized window — see [[bruteForceMulti]]).
   */
  def ivfTopKIndexedMulti(indexed: DataFrame, vecCol: String, idCol: String,
                          queries: Seq[(Long, Array[Double])], k: Int,
                          centroids: Array[Array[Double]], nprobe: Int = 2): DataFrame = {
    val spark = indexed.sparkSession
    graft.expr.GraftFunctions.ensure(spark)
    import spark.implicits._
    val probeRows = queries.flatMap { case (qid, q) =>
      probeCells(q, centroids, nprobe).map(c => (qid, c, q.toSeq))
    }
    val allCells = probeRows.map(_._2).distinct
    val probes = probeRows.toDF("query_id", "cell", "_qv")
    val scored = indexed.where(col("cell").isin(allCells: _*))
      .join(broadcast(probes), "cell")
      .select(col("query_id"),
        struct(round(VectorMath.cosineFast(col(vecCol), col("_qv")), 6).as("cosine"),
          col(idCol)).as("_scored"))
    topKPerQuery(scored, idCol, k)
  }
}

/**
 * Embedding-space near-duplicate detection: bucket by random-
 * hyperplane LSH, verify cosine within buckets only — the embedding
 * analog of MinHash dedup, same no-cross-join guarantee.
 */
object EmbedDedup {
  def nearDupPairs(embeddings: DataFrame, vecCol: String, idCol: String,
                   threshold: Double = 0.95, bits: Int = 12, tables: Int = 3,
                   seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    graft.expr.GraftFunctions.ensure(embeddings.sparkSession)
    // dimension probe tolerates an empty (upstream-filtered) corpus —
    // return the empty pair frame instead of dying on head() — and
    // skips null vectors, which would otherwise yield dim = null and
    // zero-dimension hyperplanes bucketing everything together
    val dimRow = embeddings.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1)
    if (dimRow.isEmpty)
      return embeddings.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0d).as("cosine")).where(lit(false))
    val dim = dimRow.head.getInt(0)
    val planeSets = Array.tabulate(tables)(t => AnnSearch.hyperplanes(dim, bits, seed + t))
    val base = embeddings.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))

    // ids-only bucket shuffle (vectors are wide — shipping them into
    // collect_list buckets would shuffle the whole table per hash
    // table); cosine verify joins the (small) candidate set back to
    // the embeddings, scanning the big table, never pair-shuffling it.
    def lshPairs(input: DataFrame): DataFrame = {
      val bucketed = input
        .select(col("doc_id"), posexplode(AnnSearch.lshBucketsAll(col("vec"), planeSets)))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bkt")
      val pairs = Dedup.idPairsFromBuckets(bucketed, Seq("tbl", "bkt"), maxBucket)
      val vecs = embeddings.select(col(idCol).as("vid"), col(vecCol).as("v"))
      pairs
        .join(vecs.withColumnRenamed("vid", "id_a").withColumnRenamed("v", "v_a"), "id_a")
        .join(vecs.withColumnRenamed("vid", "id_b").withColumnRenamed("v", "v_b"), "id_b")
        .withColumn("cosine", round(VectorMath.cosineFast(col("v_a"), col("v_b")), 6))
        .where(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }

    // adaptive mass-duplication handling, same scheme as
    // Dedup.minhashCandidates: BIT-IDENTICAL vectors (re-crawled/
    // replicated docs share embeddings) are probed ids-only by a
    // 64-bit vector fingerprint; stars carry cosine exactly 1 (a
    // fingerprint collision mislabeling a pair is the standard
    // 2^-64-per-pair fingerprint trade, same as exact dedup)
    val keyed = base.select(col("doc_id"), xxhash64(col("vec")).as("_k"))
    val (dupRows, nGroups, totalRows, dupG) = Dedup.dupGroupsOf(keyed)
    Dedup.DupPlan.choose(dupRows, nGroups, totalRows) match {
      case Dedup.DupPlan.NoDups => lshPairs(base)
      case Dedup.DupPlan.BroadcastStars =>
        val stars = keyed.join(broadcast(dupG), "_k")
          .where(col("doc_id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("doc_id").as("id_b"), lit(1.0d).as("cosine"))
        stars.unionByName(lshPairs(base)).dropDuplicates("id_a", "id_b")
      case Dedup.DupPlan.PreGroup =>
        val withKey = base.withColumn("_k", xxhash64(col("vec")))
        val groups = withKey.groupBy(col("_k")).agg(min(col("doc_id")).as("rep"))
        val stars = withKey.select(col("doc_id"), col("_k")).join(groups, "_k")
          .where(col("doc_id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("doc_id").as("id_b"), lit(1.0d).as("cosine"))
        val reps = withKey.join(groups, "_k").where(col("doc_id") === col("rep"))
          .select(col("doc_id"), col("vec"))
        stars.unionByName(lshPairs(reps))
    }
  }
}
