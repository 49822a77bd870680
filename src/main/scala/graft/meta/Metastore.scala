package graft.meta

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.time.LocalDate
import scala.collection.concurrent.TrieMap

/**
 * Spark-native metastore: named tables stored as partitioned
 * parquet/orc/csv, addressed by information date.
 *
 * Re-expresses the reference metastore
 * (reference: pramen/core .../core/metastore/MetastoreImpl.scala:60,
 * api/MetastoreReader.scala:28) Spark-first:
 *
 *  - `info_date` is a physical partition column, so `getTable(from,to)`
 *    compiles to a partition-pruned scan (`PartitionFilters` in the
 *    plan) — a 1-day read of a multi-year table touches only that
 *    day's files. At 100 TB this is the difference between a 30 s and
 *    a 10 h scan.
 *  - A bounded read of a ByDay Parquet/ORC/Raw table also LISTS only
 *    its in-range day directories, picked from one root `listStatus`:
 *    a 1-day read of a 10-year table lists 2 directories, not 3650
 *    (Spark lists more than 32 paths with a distributed job). Reads
 *    whose result could depend on the file subset keep the whole-table
 *    listing: cached tables, evolved Parquet/ORC (schema merging),
 *    CSV/JSON (schema inference), and the other formats and schemes.
 *  - Such a read of an unevolved Parquet/ORC table infers its schema
 *    once: later bounded reads pass the schema the first one inferred,
 *    so they launch no footer-inference job. Whole-table reads keep
 *    inference (a root listing can see foreign directories that change
 *    the inferred partition type).
 *  - Writes use dynamic partition overwrite, so re-running a day
 *    replaces exactly that day (idempotent re-runs, late-data
 *    corrections) without touching other partitions.
 *  - No driver-side data movement: save/read are pure DataFrame ops.
 */
final class Metastore(spark: SparkSession,
                      metadataStore: Option[MetadataStore] = None,
                      /** This run's batch id, stamped into tables that
                        * declare a `batchIdColumn` (reference:
                        * MetastoreImpl.scala:48 — one id per pipeline
                        * run). */
                      val batchId: Long = System.currentTimeMillis()) {
  private val tables = TrieMap.empty[String, MetaTable]
  private val statsMap = TrieMap.empty[(String, LocalDate), TableStats]
  // (infoDate, schema, flagged): flagged=false versions come from
  // ignore.schema.change jobs — recorded so evolved reads stay correct
  // (mergeSchema), but invisible to schemaChanges
  private val schemaHistories = TrieMap.empty[String, List[(LocalDate, org.apache.spark.sql.types.StructType, Boolean)]]

  /** The session this metastore runs on (Orchestrator needs it for
    * job-group cancellation of timed-out tasks). */
  private[graft] def session: SparkSession = spark

  /** Register (or re-register) a table definition. The name's cached
    * schema history is dropped, so a name moved to another path is
    * judged by the versions persisted under that path. */
  def register(table: MetaTable): Unit = {
    tables.put(table.name, table)
    schemaHistories.remove(table.name)
  }

  def getTableDef(name: String): MetaTable =
    tables.getOrElse(name, throw new NoSuchElementException(s"Table not registered in metastore: $name"))

  def isTableRegistered(name: String): Boolean = tables.contains(name)

  /**
   * Save a DataFrame as the data for `infoDate`. With the default
   * Overwrite mode, replaces that info-date's partition only (dynamic
   * overwrite — the idempotent full-rerun semantics). With Append,
   * adds to the partition without touching earlier rows — the
   * incremental-batch semantics: several batches of one day coexist
   * (reference: pramen/core .../IncrementalIngestionJob.scala:156 —
   * append for incremental, overwrite only on explicit rerun).
   */
  def saveTable(name: String, infoDate: LocalDate, df: DataFrame,
                mode: SaveMode = SaveMode.Overwrite,
                trackSchema: Boolean = true): TableStats = {
    val t = getTableDef(name)
    if (t.format == DataFormat.NullFormat) {
      // sink-only table: nothing stored, nothing computed — the save
      // exists so the job anchors in the DAG (reference:
      // MetastorePersistenceNull.saveTable returns zero stats with no job)
      val stats = TableStats(0L, None)
      statsMap.put((name, infoDate), stats)
      return stats
    }
    if (t.format == DataFormat.Raw) return saveRaw(t, name, infoDate, df)
    if (t.format == DataFormat.Delta) Metastore.requireDelta()
    val dateLit = java.sql.Date.valueOf(infoDate)
    val withDate0 =
      (if (df.columns.contains(t.infoDateColumn)) df.drop(t.infoDateColumn) else df)
        .withColumn(t.infoDateColumn, lit(dateLit))
    // batch stamp: one id per run, so appended batches in a single day
    // partition stay individually addressable (getBatch)
    val withDate = t.batchIdColumn.fold(withDate0)(bc =>
      (if (withDate0.columns.contains(bc)) withDate0.drop(bc) else withDate0)
        .withColumn(bc, lit(batchId)))

    t.format match {
      case ice: DataFormat.Iceberg =>
        // catalog-table path: hidden-transform partitioning needs no
        // derived columns, the snapshot log replaces dynamic partition
        // overwrite, and Iceberg owns schema history natively (so no
        // _graft/schema recording — there is no table path to put it)
        val obs = new org.apache.spark.sql.Observation()
        IcebergPersistence.save(spark, t, ice, infoDate,
          withDate.observe(obs, count(lit(1)).as("cnt")), mode)
        invalidateCache(name)
        val stats = TableStats(obs.get("cnt").asInstanceOf[Long], None)
        statsMap.put((name, infoDate), stats)
        return stats
      case te: DataFormat.TransientEager =>
        // session-scoped: materialize NOW under the cache policy (the
        // "eager" — the scheduled job pays its cost at save time,
        // unlike lazy jobs) and register per (table, info date); no
        // files are written and the data dies with the session
        // (reference: TransientTableManager in-memory/cached frames)
        val stored = te.cachePolicy match {
          case CachePolicy.Cache   => withDate.cache()
          case CachePolicy.Persist =>
            withDate.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          case CachePolicy.NoCache => withDate // plan re-computed per read
        }
        val cnt = stored.count()
        val key = (name, infoDate)
        val merged = transientStore.get(key) match {
          case Some(prev) if mode == SaveMode.Append =>
            prev.unionByName(stored, allowMissingColumns = true)
          case other =>
            other.foreach(_.unpersist()) // overwrite drops the old day's cache
            stored
        }
        transientStore.put(key, merged)
        val stats = TableStats(cnt, None)
        statsMap.put(key, stats)
        return stats
      case _ => ()
    }

    val (partCols, toWrite) = t.scheme match {
      case PartitionScheme.ByDay => (Seq(t.infoDateColumn), withDate)
      case PartitionScheme.ByMonth(y, m) =>
        (Seq(y, m), withDate
          .withColumn(y, year(col(t.infoDateColumn)))
          .withColumn(m, month(col(t.infoDateColumn))))
      case PartitionScheme.ByYearMonth(ym) =>
        (Seq(ym), withDate.withColumn(ym, date_format(col(t.infoDateColumn), "yyyy-MM")))
      case PartitionScheme.ByYear(y) =>
        (Seq(y), withDate.withColumn(y, year(col(t.infoDateColumn))))
      case PartitionScheme.NotPartitioned | PartitionScheme.Overwrite =>
        (Seq.empty, withDate)
    }

    // row count observed DURING the write job (collectMetrics node) —
    // a post-write re-scan would pay a second read of the partition on
    // every save, which at 100 TB doubles the write path's input cost
    val obs = new org.apache.spark.sql.Observation()
    val observed = toWrite.observe(obs, count(lit(1)).as("cnt"))

    val writer = observed.write.format(t.format.name)
      .options(t.format match { case DataFormat.Csv(o) => o; case _ => Map.empty[String, String] })
      .options(t.writeOptions) // per-table overrides win over format defaults

    t.scheme match {
      case PartitionScheme.Overwrite =>
        // snapshot table: Append still adds to the current snapshot
        // (an incremental batch must never erase the prior batches)
        writer.mode(mode).save(t.path)
      case PartitionScheme.NotPartitioned =>
        writer.mode(SaveMode.Append).save(t.path)
      case _ if mode == SaveMode.Append =>
        writer.mode(SaveMode.Append).partitionBy(partCols: _*).save(t.path)
      case _ =>
        writer.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .save(t.path)
    }

    invalidateCache(name)
    syncCatalog(t, Some(infoDate))
    val cnt = obs.get("cnt").asInstanceOf[Long]
    val stats = TableStats(cnt, sizeOf(statsScope(t, infoDate)))
    statsMap.put((name, infoDate), stats)
    // trackSchema=false (ignore.schema.change): the version is still
    // RECORDED — evolved reads need the history to know to mergeSchema
    // — but marked quiet so schemaChanges never surfaces it
    recordSchema(name, infoDate, df.schema, flagged = trackSchema)
    stats
  }

  /**
   * Rewrite one info-date partition into `targetFiles` files (or a
   * count derived from the partition's size at ~`targetBytes` per
   * file). Streaming micro-batch appends and incremental batches
   * accumulate small files — at 100 TB a day's partition can hold
   * tens of thousands of them, and scan planning/footer reads start
   * dominating query time. Compaction is idempotent (the dynamic
   * overwrite replaces exactly this partition) and safe to re-run.
   * ByDay tables only (the partition is the rewrite unit).
   */
  def compactPartition(name: String, infoDate: LocalDate,
                       targetFiles: Option[Int] = None,
                       targetBytes: Long = 128L * 1024 * 1024): TableStats = {
    val t = getTableDef(name)
    require(t.scheme == PartitionScheme.ByDay,
      s"compactPartition supports ByDay tables; '$name' uses ${t.scheme}")
    require(t.format != DataFormat.Delta,
      s"compactPartition swaps files outside the _delta_log transaction and would corrupt " +
        s"Delta table '$name'; compact Delta tables with OPTIMIZE / a replaceWhere rewrite")
    require(!t.format.isInstanceOf[DataFormat.Iceberg],
      s"compactPartition swaps files outside the snapshot log and would corrupt " +
        s"Iceberg table '$name'; compact with Iceberg's rewrite_data_files procedure")
    require(t.format != DataFormat.NullFormat && !t.format.isInstanceOf[DataFormat.TransientEager],
      s"compactPartition needs a storage-backed table; '$name' (${t.format.name}) has no files")
    val partDir = new org.apache.hadoop.fs.Path(s"${t.path}/${t.infoDateColumn}=$infoDate")
    val fs = partDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Spark refuses to overwrite a path it is reading in the same plan,
    // so: compact into a staging dir, then swap DIRECTORIES in —
    // rename(partDir -> old), rename(staging -> partDir), delete(old).
    // Directory renames are atomic on local FS and HDFS, so every
    // crash window leaves a state [[recoverCompactionSwap]] repairs on
    // the next call. The r17 predecessor deleted the partition's FILES
    // and renamed staged files in one by one: a crash in that window
    // left the only copy in staging, and a RE-RUN read the now-empty
    // partition and overwrote staging — the surviving copy — with
    // emptiness. Object stores without atomic rename keep the
    // documented plain-FS caveat; Delta/Iceberg are rejected above —
    // their file layout is owned by the transaction log.
    val staging = new org.apache.hadoop.fs.Path(s"${t.path}/_graft/compact/$infoDate")
    val oldDir = new org.apache.hadoop.fs.Path(s"${t.path}/_graft/compact/$infoDate.old")
    recoverCompactionSwap(fs, partDir, staging, oldDir)
    // size AFTER recovery: a just-restored partition must drive the
    // file-count target, not the crashed state's empty directory
    val n = targetFiles.getOrElse {
      val size = sizeOf(partDir.toString).getOrElse(0L)
      math.max(1, math.ceil(size.toDouble / targetBytes).toInt)
    }
    val obs = new org.apache.spark.sql.Observation()
    getTable(name, Some(infoDate), Some(infoDate))
      .drop(t.infoDateColumn)
      .repartition(n)
      .observe(obs, count(lit(1)).as("cnt"))
      .write.format(t.format.name)
      .options(t.format match { case DataFormat.Csv(o) => o; case _ => Map.empty[String, String] })
      .mode(SaveMode.Overwrite)
      .save(staging.toString)
    invalidateCache(name)
    if (!fs.exists(partDir)) fs.mkdirs(partDir) // a dataless date still swaps
    require(fs.rename(partDir, oldDir),
      s"compactPartition: could not move $partDir aside to $oldDir")
    if (!fs.rename(staging, partDir)) {
      // roll the original straight back rather than leaving the
      // partition missing until some future repair call: a read
      // between the failure and the repair would "successfully"
      // return zero rows
      val restored = fs.rename(oldDir, partDir)
      throw new IllegalStateException(
        s"compactPartition: could not swap $staging into $partDir; " +
          (if (restored) s"original partition restored from $oldDir"
           else s"RESTORE ALSO FAILED — original data preserved at $oldDir"))
    }
    fs.delete(oldDir, true)
    syncCatalog(t)
    val stats = TableStats(obs.get("cnt").asInstanceOf[Long], sizeOf(t.path))
    statsMap.put((name, infoDate), stats)
    stats
  }

  /** Repair a compaction swap a previous run crashed inside of, BEFORE
    * this run reads the partition (reading first is what turned the
    * old crash window into data loss). States, by which directories
    * exist — every one restores a complete partition:
    *   - old + no partition: crashed between the two renames; the
    *     staged output (if its `_SUCCESS` commit marker exists) is the
    *     complete compacted copy — finish the swap; otherwise put the
    *     original back.
    *   - old + partition: crashed after the swap, before cleanup — the
    *     partition is the compacted output; drop the leftover old copy.
    *   - staging only: a stale pre-swap write (crash before any
    *     rename, or an aborted job); the partition is intact — drop
    *     staging so the fresh write starts clean. */
  private def recoverCompactionSwap(fs: org.apache.hadoop.fs.FileSystem,
                                    partDir: org.apache.hadoop.fs.Path,
                                    staging: org.apache.hadoop.fs.Path,
                                    oldDir: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(oldDir)) {
      if (!fs.exists(partDir)) {
        val stagedComplete = fs.exists(staging) &&
          fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
        if (stagedComplete) require(fs.rename(staging, partDir),
          s"compaction recovery: could not finish the swap $staging -> $partDir")
        else require(fs.rename(oldDir, partDir),
          s"compaction recovery: could not restore $oldDir -> $partDir")
      }
      fs.delete(oldDir, true)
    }
    fs.delete(staging, true)
    ()
  }

  /** Data files currently in one info-date partition (for compaction
    * policies: "compact when fileCount > N"). Repairs a crashed
    * compaction swap FIRST (one cheap exists() probe): without this, a
    * mid-swap crash leaves the partition missing, this probe reports
    * 0 files, and the fileCount policy never re-invokes the only other
    * operation that carries the repair — the failure would suppress
    * its own fix while reads "successfully" return empty. */
  def partitionFileCount(name: String, infoDate: LocalDate): Int = {
    val t = getTableDef(name)
    val p = new org.apache.hadoop.fs.Path(s"${t.path}/${t.infoDateColumn}=$infoDate")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldDir = new org.apache.hadoop.fs.Path(s"${t.path}/_graft/compact/$infoDate.old")
    if (fs.exists(oldDir)) {
      recoverCompactionSwap(fs, p,
        new org.apache.hadoop.fs.Path(s"${t.path}/_graft/compact/$infoDate"), oldDir)
      invalidateCache(name)
    }
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(st => st.isFile && !st.getPath.getName.startsWith("_")
      && !st.getPath.getName.startsWith("."))
  }

  /**
   * Catalog integration (reference: pramen/core
   * .../core/metastore/MetastoreImpl.scala Hive paths): registers the
   * physical location as an EXTERNAL datasource table on first save
   * and recovers newly written partitions after each save, so
   * `spark.table(...)` / SQL sees every info date with partition
   * pruning intact. Works against whatever catalog the session has
   * (in-memory here; Hive metastore / Glue on a real cluster — the
   * same API).
   */
  /**
   * Retention: delete every info-date partition strictly BEFORE
   * `keepFrom` (ByDay tables) — the data-lifecycle operation every
   * production table eventually needs (retention policies, storage
   * budgets, right-to-erasure), as a first-class metastore verb
   * instead of an ad-hoc `rm -r` that leaves the session catalog
   * pointing at deleted directories. Drops the partition DIRECTORIES
   * and, for catalog-synced tables, the catalog partitions (O(1) per
   * dropped date, the AddPartition discipline in reverse) + metadata
   * KV; bookkeeping/journal records stay — run history is an audit
   * log, not data. Refuses Delta/Iceberg (their transaction log owns
   * the files — expire with their own retention procedures) and
   * path-less formats. Returns the dates actually dropped.
   */
  def expirePartitions(name: String, keepFrom: LocalDate): Seq[LocalDate] = {
    val t = getTableDef(name)
    require(t.scheme == PartitionScheme.ByDay,
      s"expirePartitions supports ByDay tables; '$name' uses ${t.scheme}")
    require(t.format != DataFormat.Delta && !t.format.isInstanceOf[DataFormat.Iceberg],
      s"expirePartitions deletes files outside the transaction log and would corrupt " +
        s"'$name' (${t.format.name}); use the format's own retention procedure")
    require(t.format != DataFormat.NullFormat && !t.format.isInstanceOf[DataFormat.TransientEager],
      s"expirePartitions needs a storage-backed table; '$name' (${t.format.name}) has no files")
    val dropDates = listAvailableDates(name).filter(_.isBefore(keepFrom))
    if (dropDates.isEmpty) return Seq.empty
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dropDates.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${t.path}/${t.infoDateColumn}=$d"), true)
      deleteMetadata(name, d)
      if (t.catalogSync) {
        val ident = t.catalogName.getOrElse(t.name)
        if (spark.catalog.tableExists(ident)) {
          val quoted = ident.split("\\.").map(p => s"`$p`").mkString(".")
          spark.sql(s"ALTER TABLE $quoted DROP IF EXISTS " +
            s"PARTITION (`${t.infoDateColumn}` = '$d')")
        }
      }
    }
    if (t.catalogSync) {
      val ident = t.catalogName.getOrElse(t.name)
      if (spark.catalog.tableExists(ident)) spark.catalog.refreshTable(ident)
    }
    dropDates
  }

  private def syncCatalog(t: MetaTable, savedDate: Option[LocalDate] = None): Unit = {
    // Iceberg tables ARE catalog tables — nothing to register or
    // repair (the reference throws on its Hive-sync hooks for the same
    // reason: MetastorePersistenceIceberg.createOrUpdateHiveTable);
    // null/transient tables have no storage to point a catalog at
    val pathless = t.format match {
      case _: DataFormat.Iceberg | DataFormat.NullFormat |
           _: DataFormat.TransientEager => true
      case _ => false
    }
    if (t.catalogSync && !pathless) {
    val ident = t.catalogName.getOrElse(t.name)
    val quoted = ident.split("\\.").map(p => s"`$p`").mkString(".")
    // Spark SQL string literals are backslash-escaped (doubling the
    // quote, the ANSI convention, concatenates adjacent literals and
    // silently drops the quote from the value)
    def lit(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if (!spark.catalog.tableExists(ident)) {
      val opts = t.format match {
        case DataFormat.Csv(o) if o.nonEmpty =>
          o.map { case (k, v) => s"${lit(k)} ${lit(v)}" }
            .mkString(" OPTIONS (", ", ", ")")
        case _ => ""
      }
      spark.sql(s"CREATE TABLE $quoted USING ${t.format.name}$opts LOCATION ${lit(t.path)}")
    }
    t.scheme match {
      case PartitionScheme.NotPartitioned | PartitionScheme.Overwrite => ()
      case PartitionScheme.ByDay
        if t.catalogRepair == CatalogRepair.AddPartition && savedDate.isDefined =>
        // O(1) registration of exactly the touched partition
        // (reference: HiveQueryTemplates addPartitionTemplate) — a full
        // MSCK lists EVERY partition directory, which at a decade of
        // daily partitions turns each save into a 3,650-dir listing
        val d = savedDate.get.toString
        spark.sql(s"ALTER TABLE $quoted ADD IF NOT EXISTS " +
          s"PARTITION (`${t.infoDateColumn}` = ${lit(d)}) " +
          s"LOCATION ${lit(s"${t.path}/${t.infoDateColumn}=$d")}")
      case _ => spark.catalog.recoverPartitions(ident) // MSCK: register new info dates
    }
    // ALWAYS drop the cached relation/file listing: overwrites delete
    // files the cached index still points to (read fails), appends add
    // files it misses (silent stale counts)
    spark.catalog.refreshTable(ident)
  }}

  /** Schema-evolution tracking (reference: pramen/api
   * .../api/SchemaDifference.scala): each save records the written
   * schema when it differs from the last; `schemaChanges` reports the
   * field-level diffs between consecutive versions. Versions persist
   * as one JSON file each under `<table>/_graft/schema/<date>.json`
   * (underscore-prefixed dirs are invisible to Spark readers; one
   * file per version needs no appends, so object stores work), so a
   * new Metastore instance recovers the history of prior runs. */
  private def recordSchema(name: String, infoDate: LocalDate,
                           schema: org.apache.spark.sql.types.StructType,
                           flagged: Boolean = true): Unit = {
    val hist = loadedHistory(name)
    val changed = hist.lastOption.forall(_._2 != schema)
    if (changed) {
      schemaHistories.put(name, hist :+ ((infoDate, schema, flagged)))
      val t = getTableDef(name)
      val dir = new org.apache.hadoop.fs.Path(s"${t.path}/_graft/schema")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      // filename leads with the save sequence so (a) two versions on
      // the same date don't overwrite each other and (b) reload order
      // equals save order, not date order (backfills save older dates);
      // a ".quiet" tag marks versions schemaChanges must not surface
      val tag = if (flagged) "" else ".quiet"
      val out = fs.create(
        new org.apache.hadoop.fs.Path(dir, f"${hist.length}%05d_$infoDate$tag.json"), false)
      try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    }
  }

  private def loadedHistory(name: String): List[(LocalDate, org.apache.spark.sql.types.StructType, Boolean)] =
    schemaHistories.getOrElseUpdate(name, {
      val t = getTableDef(name)
      val dir = new org.apache.hadoop.fs.Path(s"${t.path}/_graft/schema")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toList
        .filter(_.getPath.getName.endsWith(".json"))
        .sortBy(_.getPath.getName) // seq-prefixed names: save order
        .map { st =>
          val base = st.getPath.getName.stripSuffix(".json")
          val flagged = !base.endsWith(".quiet")
          val core = base.stripSuffix(".quiet")
          val date = LocalDate.parse(core.substring(core.indexOf('_') + 1))
          val bytes = new Array[Byte](st.getLen.toInt)
          val in = fs.open(st.getPath)
          try in.readFully(bytes) finally in.close()
          (date, org.apache.spark.sql.types.DataType.fromJson(new String(bytes, "UTF-8"))
            .asInstanceOf[org.apache.spark.sql.types.StructType], flagged)
        }
    })

  /** (infoDate, schema) versions in save order, deduplicated;
    * includes versions persisted by earlier Metastore instances. */
  def schemaHistory(name: String): Seq[(LocalDate, org.apache.spark.sql.types.StructType)] =
    loadedHistory(name).map(v => (v._1, v._2))

  /** Field changes between consecutive schema versions, keyed by the
   * info date that introduced them. Versions written by
   * ignore.schema.change jobs (flagged=false) are not SURFACED here —
   * but they stay in the history, so evolved reads still mergeSchema
   * (read correctness must not depend on the notification flag). */
  def schemaChanges(name: String): Seq[(LocalDate, Seq[FieldChange])] =
    loadedHistory(name).sliding(2).collect {
      case Seq((_, prev, _), (d, next, flagged)) if flagged =>
        d -> SchemaEvolution.diff(prev, next)
    }.toSeq

  /**
   * Append rows carrying their OWN info dates (derived from `dateCol`)
   * — the micro-batch write path for streaming ingestion, where one
   * batch may span a date boundary and must not overwrite either
   * day's earlier batches. ByDay tables only.
   */
  def appendTable(name: String, df: DataFrame, dateCol: String): TableStats = {
    val t = getTableDef(name)
    require(t.scheme == PartitionScheme.ByDay,
      s"appendTable supports ByDay tables; '$name' uses ${t.scheme}")
    invalidateCache(name)
    val withDate =
      (if (df.columns.contains(t.infoDateColumn)) df.drop(t.infoDateColumn) else df)
        .withColumn(t.infoDateColumn, to_date(col(dateCol)))
    val obs = new org.apache.spark.sql.Observation()
    val observed = withDate.observe(obs,
      count(lit(1)).as("cnt"), max(col(t.infoDateColumn)).as("max_d"))
    observed.write.format(t.format.name)
      .mode(SaveMode.Append)
      .partitionBy(t.infoDateColumn)
      .save(t.path)
    syncCatalog(t)
    val cnt = obs.get("cnt").asInstanceOf[Long]
    // schema versions are keyed by the max info date in the batch (a
    // deterministic property of the data), not wall-clock now()
    val maxDate = Option(obs.get("max_d")).collect {
      case d: java.sql.Date => d.toLocalDate
      case d: java.time.LocalDate => d
    }
    recordSchema(name, maxDate.getOrElse(LocalDate.EPOCH), df.schema)
    // a micro-batch may span several dates; sizing them would walk the
    // table per batch (and batches are frequent) — record count only
    TableStats(cnt, None)
  }

  /** Idempotency markers for streaming micro-batch appends (see
    * `StreamIngest.streamToMetastore`): a replayed foreachBatch must
    * not append twice. */
  def batchCommitted(name: String, batchId: Long): Boolean = {
    val p = batchMarkerPath(name, batchId)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def markBatchCommitted(name: String, batchId: Long): Unit = {
    val p = batchMarkerPath(name, batchId)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(Array.empty[Byte]) finally out.close()
  }

  private def batchMarkerPath(name: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(s"${getTableDef(name).path}/_graft/batches/$batchId")

  /**
   * Read a table limited to an info-date range (inclusive). With the
   * ByDay scheme the range becomes a partition filter — pruned at
   * planning time, not scanned. A bounded read of a table that
   * [[readsDayDirs]] loads only the in-range `info_date=<d>`
   * directories, picked from one root listing, so Spark never lists
   * the rest of the table; the range filter stays in the plan.
   */
  def getTable(name: String, from: Option[LocalDate] = None, to: Option[LocalDate] = None): DataFrame = {
    val t = getTableDef(name)
    val df =
      if ((from.isEmpty && to.isEmpty) || !readsDayDirs(t)) readWhole(t)
      else {
        val dirs = dayDirs(t)
        val hit = dirs.filter { case (d, _) => from.forall(f => !d.isBefore(f)) && to.forall(u => !d.isAfter(u)) }
        // no day in range: the newest day supplies the schema and the
        // range filter empties it — no job, same columns as a hit
        if (dirs.isEmpty) readWhole(t)
        else loadDayDirs(t, (if (hit.nonEmpty) hit else dirs.takeRight(1)).map(_._2))
      }
    inRange(t, df, from, to)
  }

  private def inRange(t: MetaTable, df: DataFrame, from: Option[LocalDate], to: Option[LocalDate]): DataFrame = {
    val c = col(t.infoDateColumn)
    (from, to) match {
      case (Some(f), Some(u)) => df.where(c >= java.sql.Date.valueOf(f) && c <= java.sql.Date.valueOf(u))
      case (Some(f), None)    => df.where(c >= java.sql.Date.valueOf(f))
      case (None, Some(u))    => df.where(c <= java.sql.Date.valueOf(u))
      case (None, None)       => df
    }
  }

  /** Data for the latest info date <= `until` (default: latest overall). */
  def getLatest(name: String, until: Option[LocalDate] = None): DataFrame = {
    val t = getTableDef(name)
    def upTo(d: LocalDate) = until.forall(u => !d.isAfter(u))
    def noData = new NoSuchElementException(s"No data in table '$name'" + until.fold("")(u => s" until $u"))
    if (readsDayDirs(t)) {
      // the one root listing both picks the date and names its directory
      val (latest, dir) = dayDirs(t).filter(d => upTo(d._1)).lastOption.getOrElse(throw noData)
      inRange(t, loadDayDirs(t, Seq(dir)), Some(latest), Some(latest))
    } else {
      val latest = listAvailableDates(name).filter(upTo).lastOption.getOrElse(throw noData)
      getTable(name, Some(latest), Some(latest))
    }
  }

  /**
   * Distinct info dates present. For day-partitioned tables (including
   * Raw) the dates are recovered from the `info_date=<d>` directory
   * names — one filesystem listing, NO Spark job — so `getLatest`, the
   * most common read API, never scans data to find its partition. A
   * 10-year 100 TB table answers this from ~3650 directory entries, and
   * a bounded read of it reuses that listing ([[getTable]]).
   * Month/year-grouped and unpartitioned schemes fall back to a
   * column-pruned distinct scan (the date is not recoverable from
   * their directory names).
   */
  def listAvailableDates(name: String): Seq[LocalDate] = {
    val t = getTableDef(name)
    t.format match {
      case ice: DataFormat.Iceberg =>
        // catalog tables have no info_date=… directories to list;
        // ByDay answers from the .partitions metadata table instead
        return IcebergPersistence.listDates(spark, t, ice)
      case _: DataFormat.TransientEager =>
        return transientStore.keys.collect { case (n, d) if n == name => d }
          .toSeq.sortBy(_.toEpochDay)
      case DataFormat.NullFormat => return Seq.empty
      case _ => ()
    }
    t.scheme match {
      case PartitionScheme.ByDay => dayDirs(t).map(_._1)
      case _ =>
        readWhole(t).select(col(t.infoDateColumn)).distinct().collect()
          .map(r => r.getDate(0).toLocalDate).toSeq.sortBy(_.toEpochDay)
    }
  }

  /** The `info_date=<d>` directories directly under a ByDay table's
    * root, oldest first: one driver-side `listStatus`, no Spark job. */
  private def dayDirs(t: MetaTable): Seq[(LocalDate, org.apache.hadoop.fs.Path)] = {
    val base = new org.apache.hadoop.fs.Path(t.path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else {
      val prefix = s"${t.infoDateColumn}="
      fs.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .flatMap { st =>
          // tolerate foreign dirs; only well-formed dates count
          scala.util.Try(LocalDate.parse(st.getPath.getName.stripPrefix(prefix))).toOption
            .map(_ -> st.getPath)
        }
        .sortBy(_._1.toEpochDay)
    }
  }

  def getStats(name: String, infoDate: LocalDate): Option[TableStats] = statsMap.get((name, infoDate))

  /**
   * Key-value metadata attached to a (table, infoDate) partition
   * (reference: pramen/api .../api/MetadataManager.scala — pipelines
   * annotate partitions with lineage/quality facts downstream jobs
   * read). Default storage is one file per key under
   * `_graft/meta_kv/<date>/`, so concurrent writers of different keys
   * never conflict and object stores need no appends; a configured
   * [[MetadataStore]] (e.g. the bookkeeping database) replaces the
   * file layout wholesale.
   */
  def setMetadata(name: String, infoDate: LocalDate, key: String, value: String): Unit = {
    require(key.nonEmpty && !key.contains('/'), s"invalid metadata key: '$key'")
    metadataStore match {
      case Some(store) => store.set(name, infoDate, key, value)
      case None =>
        val dir = new org.apache.hadoop.fs.Path(s"${getTableDef(name).path}/_graft/meta_kv/$infoDate")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(dir)
        val out = fs.create(new org.apache.hadoop.fs.Path(dir, key), true)
        try out.write(value.getBytes("UTF-8")) finally out.close()
    }
  }

  def getMetadata(name: String, infoDate: LocalDate, key: String): Option[String] =
    metadataStore match {
      case Some(store) => store.get(name, infoDate, key)
      case None =>
        val p = new org.apache.hadoop.fs.Path(s"${getTableDef(name).path}/_graft/meta_kv/$infoDate/$key")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try {
            val len = fs.getFileStatus(p).getLen.toInt
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            Some(new String(bytes, "UTF-8"))
          } finally in.close()
        }
    }

  def listMetadata(name: String, infoDate: LocalDate): Map[String, String] =
    metadataStore match {
      case Some(store) => store.list(name, infoDate)
      case None =>
        val dir = new org.apache.hadoop.fs.Path(s"${getTableDef(name).path}/_graft/meta_kv/$infoDate")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(dir)) Map.empty
        else fs.listStatus(dir).filter(_.isFile).flatMap { st =>
          getMetadata(name, infoDate, st.getPath.getName).map(st.getPath.getName -> _)
        }.toMap
    }

  /** Remove one annotation (absent keys are a no-op) — reference:
    * pramen/api MetadataManager.deleteMetadata. */
  def deleteMetadata(name: String, infoDate: LocalDate, key: String): Unit =
    metadataStore match {
      case Some(store) => store.delete(name, infoDate, key)
      case None =>
        val p = new org.apache.hadoop.fs.Path(s"${getTableDef(name).path}/_graft/meta_kv/$infoDate/$key")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, false)
    }

  /** Remove every annotation of the partition. */
  def deleteMetadata(name: String, infoDate: LocalDate): Unit =
    metadataStore match {
      case Some(store) => store.deleteAll(name, infoDate)
      case None =>
        val dir = new org.apache.hadoop.fs.Path(s"${getTableDef(name).path}/_graft/meta_kv/$infoDate")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(dir, true)
    }

  /** Reader facade handed to transformers (restricts to declared inputs when given). */
  def readerFor(allowedTables: Option[Set[String]] = None,
                incremental: Option[MetastoreReader.IncrementalContext] = None,
                currentInfoDate: Option[LocalDate] = None,
                runReason: String = "New",
                runInfo: (String, LocalDate) => Option[TableRunInfo] = (_, _) => None,
                lazyResolve: Option[(String, LocalDate) => Unit] = None): MetastoreReader =
    new MetastoreReader(this, allowedTables, incremental, currentInfoDate, runReason,
      runInfo, lazyResolve)

  /**
   * Raw (whole-file) storage: each input row's `content` bytes become
   * one file under `path/info_date=<d>/`, named by the basename of the
   * row's `path` column (the shape `binaryFile` / `RawFileSource`
   * produce). Writes run on executors via foreachPartition — the
   * driver never sees file bytes — and the partition directory is
   * replaced atomically-enough for idempotent re-runs. Reads go back
   * through `binaryFile` with `info_date` recovered by partition
   * discovery, so getTable/getLatest work unchanged.
   */
  private def saveRaw(t: MetaTable, name: String, infoDate: LocalDate, df: DataFrame): TableStats = {
    require(df.columns.contains("path") && df.columns.contains("content"),
      s"raw table '$name' expects (path, content) columns, got: ${df.columns.mkString(", ")}")
    invalidateCache(name)
    // basename collisions would silently overwrite each other inside
    // the partition dir — fail loudly instead (tiny names-only agg)
    val collisions = df
      .select(element_at(split(col("path"), "/"), -1).as("_base"))
      .groupBy("_base").count().where(col("count") > 1).limit(5)
      .collect().map(_.getString(0))
    require(collisions.isEmpty,
      s"raw table '$name': duplicate basenames would overwrite each other: ${collisions.mkString(", ")}")
    val destBase = s"${t.path}/${t.infoDateColumn}=$infoDate"
    val destPath = new org.apache.hadoop.fs.Path(destBase)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(destPath)) fs.delete(destPath, true)
    fs.mkdirs(destPath)
    // ship the session's Hadoop settings to executors — a fresh
    // Configuration() there would lose spark.hadoop.* overrides
    // (object-store credentials, defaultFS)
    val hadoopProps: Seq[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.toSeq
    }
    df.select(col("path"), col("content")).foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        hadoopProps.foreach { case (k, v) => conf.set(k, v) }
        rows.foreach { r =>
          val srcName = new org.apache.hadoop.fs.Path(r.getString(0)).getName
          val out = new org.apache.hadoop.fs.Path(s"$destBase/$srcName")
          val stream = out.getFileSystem(conf).create(out, true)
          try stream.write(r.getAs[Array[Byte]]("content"))
          finally stream.close()
        }
    }
    val cnt = fs.listStatus(destPath).count(_.isFile)
    val stats = TableStats(cnt.toLong, sizeOf(destPath.toString))
    statsMap.put((name, infoDate), stats)
    stats
  }

  private val cachedReads = TrieMap.empty[String, DataFrame]

  /** Read schema of each unevolved Parquet/ORC table's day-directory
    * loads, with the recorded schema version it was inferred under
    * (see [[loadDayDirs]]). */
  private val daySchemas = TrieMap.empty[MetaTable,
    (org.apache.spark.sql.types.StructType, org.apache.spark.sql.types.StructType)]

  /** Session-scoped data of TransientEager tables, per (table, date). */
  private val transientStore = TrieMap.empty[(String, LocalDate), DataFrame]

  /** The table's file reader: format, CSV defaults and per-table
    * options, plus schema merging for evolved Parquet/ORC tables. */
  private def reader(t: MetaTable): org.apache.spark.sql.DataFrameReader = {
    if (t.format == DataFormat.Raw) return spark.read.format("binaryFile")
    // evolved tables (>1 recorded schema version) read with schema
    // merging so columns added later surface (null for older days);
    // unevolved tables skip it — merging reads every file's footer,
    // a real cost at 100 TB, so it's paid only where schemas differ
    val rdr = spark.read.format(t.format.name)
      .options(t.format match { case DataFormat.Csv(o) => o; case _ => Map.empty[String, String] })
      .options(t.readOptions) // per-table overrides win over format defaults
    if (evolved(t)) rdr.option("mergeSchema", "true") else rdr
  }

  private def evolved(t: MetaTable): Boolean =
    (t.format == DataFormat.Parquet || t.format == DataFormat.Orc) &&
      loadedHistory(t.name).map(_._2).distinct.size > 1

  /** Whether a bounded read may load just its day directories: the
    * result must equal the filtered whole-table read. That excludes
    * cached tables (the whole-table cache is the point), evolved
    * Parquet/ORC (merging a subset drops columns added on later days),
    * CSV/JSON (the inferred schema depends on which files are read),
    * catalog, transient and null formats (no day directories), and
    * every scheme but ByDay. Accepted Parquet/ORC tables reuse their
    * first inferred read schema ([[loadDayDirs]]); [[readWhole]] keeps
    * inference, because a root read can see foreign directories such
    * as `info_date=not-a-date`, which change the inferred partition
    * type. */
  private def readsDayDirs(t: MetaTable): Boolean =
    t.scheme == PartitionScheme.ByDay && t.effectiveCachePolicy == CachePolicy.NoCache && (t.format match {
      case DataFormat.Parquet | DataFormat.Orc => !evolved(t)
      case DataFormat.Raw => true
      case _ => false
    })

  /** Load exactly `dirs` (day directories of `t`). `basePath` keeps
    * `info_date` a discovered DateType partition column.
    *
    * A Parquet/ORC table with exactly one recorded schema version
    * infers its read schema on the first load only; later loads pass
    * that schema to the reader, so Parquet launches no footer-inference
    * job and ORC reads no footer on the driver. The result is exact:
    * every file under an unevolved table's day directories carries the
    * one recorded schema and every picked directory name is a
    * well-formed date, so inference would return the same `StructType`
    * (nullability, field metadata, `info_date: DateType` last) each
    * time. A new version makes the table evolved, which [[readsDayDirs]]
    * sends to the merging whole-table read, and the key is the whole
    * table definition, so re-registering another path, format or read
    * options infers afresh.
    *
    * Directories without data files leave nothing to infer a schema or
    * partition from, so a cold read of them falls back to the whole
    * table; with the schema known, the load itself returns no rows. */
  private def loadDayDirs(t: MetaTable, dirs: Seq[org.apache.hadoop.fs.Path]): DataFrame = {
    val paths = dirs.map(_.toString)
    val version = loadedHistory(t.name).map(_._2).distinct match {
      case Seq(v) if t.format == DataFormat.Parquet || t.format == DataFormat.Orc => Some(v)
      case _ => None
    }
    version.flatMap(v => daySchemas.get(t).collect { case (`v`, s) => s }) match {
      case Some(s) => reader(t).schema(s).option("basePath", t.path).load(paths: _*)
      case None =>
        scala.util.Try(reader(t).option("basePath", t.path).load(paths: _*)).toOption
          .filter(_.columns.contains(t.infoDateColumn))
          .map { df => version.foreach(v => daySchemas.put(t, (v, df.schema))); df }
          .getOrElse(readWhole(t))
    }
  }

  private def readWhole(t: MetaTable): DataFrame = {
    def load: DataFrame = {
      if (t.format == DataFormat.Raw) return reader(t).load(t.path)
      if (t.format == DataFormat.NullFormat)
        // empty but CARRIES the info-date column so callers' range
        // filters still resolve (reference loads an empty frame)
        return spark.range(0).select(lit(null).cast("date").as(t.infoDateColumn))
      if (t.format.isInstanceOf[DataFormat.TransientEager]) {
        val parts = transientStore.toSeq.collect { case ((n, _), df) if n == t.name => df }
        if (parts.isEmpty) throw new NoSuchElementException(
          s"Transient table '${t.name}' has no data in this session — " +
            "its producing job has not run (transient tables are never read from storage)")
        return parts.reduce(_.unionByName(_, allowMissingColumns = true))
      }
      t.format match {
        case ice: DataFormat.Iceberg =>
          // date-range filters the caller adds prune via Iceberg's
          // manifest-level partition stats — same effect as the
          // parquet path's partition-directory pruning
          return IcebergPersistence.load(spark, t, ice)
        case _ => ()
      }
      if (t.format == DataFormat.Delta) Metastore.requireDelta()
      val base = reader(t).load(t.path)
      t.scheme match {
        case PartitionScheme.ByMonth(y, m)   => base.drop(y, m)
        case PartitionScheme.ByYearMonth(ym) => base.drop(ym)
        case PartitionScheme.ByYear(y)       => base.drop(y)
        case _ => base
      }
    }
    t.effectiveCachePolicy match {
      case CachePolicy.NoCache => load
      case CachePolicy.Cache => cachedReads.getOrElseUpdate(t.name, load.cache())
      case CachePolicy.Persist => cachedReads.getOrElseUpdate(t.name,
        load.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    }
  }

  /** Drop the transient cache of one table (after a save invalidates it). */
  private def invalidateCache(name: String): Unit =
    cachedReads.remove(name).foreach(_.unpersist())

  /** The directory a save's size stats are measured over: the written
    * partition when the scheme makes it addressable, the whole table
    * otherwise. Sizing `t.path` on every save would getContentSummary
    * the ENTIRE table — at a decade of daily partitions that walk is
    * O(all files ever written), per save. */
  private def statsScope(t: MetaTable, infoDate: LocalDate): String = t.scheme match {
    case PartitionScheme.ByDay => s"${t.path}/${t.infoDateColumn}=$infoDate"
    case PartitionScheme.ByMonth(y, m) =>
      s"${t.path}/$y=${infoDate.getYear}/$m=${infoDate.getMonthValue}"
    case PartitionScheme.ByYearMonth(ym) =>
      f"${t.path}/$ym=${infoDate.getYear}%04d-${infoDate.getMonthValue}%02d"
    case PartitionScheme.ByYear(y) => s"${t.path}/$y=${infoDate.getYear}"
    case _ => t.path // snapshot tables: the table IS the save
  }

  private def sizeOf(path: String): Option[Long] = {
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Some(fs.getContentSummary(p).getLength)
    } catch { case _: Throwable => None }
  }
}

/**
 * Restricted read facade passed to transformers
 * (reference: pramen/api .../api/MetastoreReader.scala:28,
 * core/metastore/MetastoreReaderIncremental.scala). When constructed
 * with an incremental context, `getTableIncremental` reads only rows
 * past this consumer's committed offset — the predicate pushes into
 * the scan — and the orchestrator commits the advanced offset after
 * the job succeeds (exactly-once per (consumer, table) progression,
 * re-deliver on failure).
 */
final class MetastoreReader(ms: Metastore, allowed: Option[Set[String]],
                            incremental: Option[MetastoreReader.IncrementalContext] = None,
                            currentInfoDate: Option[LocalDate] = None,
                            runReason: String = "New",
                            runInfo: (String, LocalDate) => Option[TableRunInfo] = (_, _) => None,
                            lazyResolve: Option[(String, LocalDate) => Unit] = None) {
  private def check(name: String): Unit = allowed.foreach { a =>
    if (!a.contains(name))
      throw new IllegalArgumentException(
        s"Table '$name' is not declared as an input of this transformer (declared: ${a.mkString(", ")})")
  }

  /** On-demand materialization hook (reference: pramen/core
    * .../core/metastore/peristence/TransientJobManager.scala:200 —
    * reading a LAZY job's output runs that job first). An explicit
    * [from,to] window materializes each calendar date (bounded, like
    * the reference's subtask cap); an open read materializes the
    * current task's info date. */
  private def resolveLazy(name: String, from: Option[LocalDate], to: Option[LocalDate]): Unit =
    lazyResolve.foreach { resolve =>
      (from, to) match {
        case (Some(f), Some(t)) =>
          val days = java.time.temporal.ChronoUnit.DAYS.between(f, t)
          require(days <= 62,
            s"lazy materialization window too wide: $f..$t (${days + 1} subtasks, max 62)")
          Iterator.iterate(f)(_.plusDays(1)).takeWhile(!_.isAfter(t))
            .foreach(d => resolve(name, d))
        case _ => currentInfoDate.foreach(d => resolve(name, d))
      }
    }

  def getTable(name: String, from: Option[LocalDate] = None, to: Option[LocalDate] = None): DataFrame = {
    check(name); resolveLazy(name, from, to); ms.getTable(name, from, to)
  }

  /**
   * The "current batch" of a table (reference: pramen/api
   * .../api/MetastoreReader.scala:45 `getCurrentBatch`): under an
   * incremental context with an offset column, the not-yet-processed
   * delta (including re-delivered chunks from failed runs); otherwise
   * the current information date's slice — the method incremental-
   * schedule transformers should read inputs through, so the same
   * transformer runs correctly under both schedules.
   */
  def getCurrentBatch(name: String, offsetInfo: Option[graft.offset.OffsetInfo] = None): DataFrame =
    (incremental, offsetInfo) match {
      case (Some(_), Some(info)) => getTableIncremental(name, info)
      case _ =>
        val d = currentInfoDate.getOrElse(throw new IllegalStateException(
          "getCurrentBatch outside an orchestrator run needs an explicit date: use getTable(name, from, to)"))
        getTable(name, Some(d), Some(d))
    }
  /** One BATCH of a day partition (reference: api MetastoreReader
    * `getBatch`, MetastoreImpl.scala:98): the rows the given run
    * appended, selected by the table's `batchIdColumn` — defaults to
    * THIS run's batch id. Falls back to the whole slice for tables
    * without a batch column (same as the reference when the column is
    * absent from the schema). */
  def getBatch(name: String, infoDate: LocalDate,
               batchId: Option[Long] = None): DataFrame = {
    check(name); resolveLazy(name, Some(infoDate), Some(infoDate))
    val slice = ms.getTable(name, Some(infoDate), Some(infoDate))
    ms.getTableDef(name).batchIdColumn match {
      case Some(bc) if slice.columns.contains(bc) =>
        slice.where(org.apache.spark.sql.functions.col(bc) ===
          batchId.getOrElse(ms.batchId))
      case _ => slice
    }
  }

  def getLatest(name: String, until: Option[LocalDate] = None): DataFrame = {
    check(name); ms.getLatest(name, until)
  }
  def listAvailableDates(name: String): Seq[LocalDate] = { check(name); ms.listAvailableDates(name) }

  /** Newest info date at/before `until` — metadata-only for ByDay
    * tables (reference: api/MetastoreReader.getLatestAvailableDate). */
  def getLatestAvailableDate(name: String, until: Option[LocalDate] = None): Option[LocalDate] = {
    check(name)
    ms.listAvailableDates(name).filter(d => until.forall(u => !d.isAfter(u))).lastOption
  }

  /** True when any data exists in the (optional) window
    * (reference: api/MetastoreReader.isDataAvailable) — dependency
    * checks in validate() without launching a scan for ByDay tables. */
  def isDataAvailable(name: String, from: Option[LocalDate] = None,
                      until: Option[LocalDate] = None): Boolean = {
    check(name)
    ms.listAvailableDates(name)
      .exists(d => from.forall(f => !d.isBefore(f)) && until.forall(u => !d.isAfter(u)))
  }

  /** The table's registered definition (format, scheme, path). */
  def getTableDef(name: String): MetaTable = { check(name); ms.getTableDef(name) }

  /** Key-value partition metadata (lineage/quality annotations). */
  def getMetadata(name: String, infoDate: LocalDate, key: String): Option[String] = {
    check(name); ms.getMetadata(name, infoDate, key)
  }

  /** Attach a lineage/quality annotation to a (table, infoDate)
    * partition (reference: pramen/api MetadataManager.setMetadata:49,
    * reachable from transformers via MetastoreReader.metadataManager).
    * Same table-scope rule as reads. */
  def setMetadata(name: String, infoDate: LocalDate, key: String, value: String): Unit = {
    check(name); ms.setMetadata(name, infoDate, key, value)
  }

  /** All annotations of a (table, infoDate) partition. */
  def listMetadata(name: String, infoDate: LocalDate): Map[String, String] = {
    check(name); ms.listMetadata(name, infoDate)
  }

  /** Remove one annotation (reference: MetadataManager.deleteMetadata). */
  def deleteMetadata(name: String, infoDate: LocalDate, key: String): Unit = {
    check(name); ms.deleteMetadata(name, infoDate, key)
  }

  /** Remove every annotation of the partition. */
  def deleteMetadata(name: String, infoDate: LocalDate): Unit = {
    check(name); ms.deleteMetadata(name, infoDate)
  }

  /** Bookkeeping facts about a (table, infoDate) run, when the
    * orchestrator supplied its journal. */
  def getTableRunInfo(name: String, infoDate: LocalDate): Option[TableRunInfo] = {
    check(name); runInfo(name, infoDate)
  }

  /** Why this task is running: New | Late | Update | Rerun
    * (reference: api/status/TaskRunReason via getRunReason). */
  def getRunReason: String = runReason

  /** True when running under an incremental context. */
  def isIncremental: Boolean = incremental.isDefined

  /** Rows of `name` strictly after this consumer's committed offset on
    * `offsetInfo.column`, bounded ABOVE by the max observed at read
    * time: concurrent appends during the job are excluded from both
    * the batch and the committed offset, so nothing is ever skipped
    * (they arrive in the next run). The pinned max is committed by the
    * orchestrator only after the job succeeds. */
  def getTableIncremental(name: String, offsetInfo: graft.offset.OffsetInfo): DataFrame = {
    check(name)
    val ctx = incremental.getOrElse(throw new IllegalStateException(
      "incremental reads need an orchestrator-provided incremental context"))
    val key = s"${ctx.consumer}:$name"
    val open = ctx.offsets.incrementalFilter(ms.getTable(name), offsetInfo, key)
    // pin the window's upper edge NOW — committing a max recomputed
    // after the job would cover rows appended mid-job that the job
    // never read, silently losing them
    val upper = ctx.offsets.maxOffset(open, offsetInfo)
    ctx.notePending(key, () => upper)
    upper match {
      case Some(u) => ctx.offsets.boundedAbove(open, offsetInfo, u)
      case None => open
    }
  }
}

object Metastore {
  /** True when the delta-spark datasource is on the classpath. */
  def deltaAvailable: Boolean =
    try { Class.forName("org.apache.spark.sql.delta.sources.DeltaDataSource"); true }
    catch { case _: ClassNotFoundException => false }

  private[meta] def requireDelta(): Unit =
    if (!deltaAvailable)
      throw new IllegalStateException(
        "DataFormat.Delta needs delta-spark on the classpath " +
          "(io.delta:delta-spark_2.13); it was not found")
}

object MetastoreReader {
  /** Per-job incremental state: offsets keyed `consumer:table`; max
    * offsets are computed and committed only after job success. */
  final class IncrementalContext(val consumer: String,
                                 val offsets: graft.offset.OffsetStore) {
    private val pending = scala.collection.concurrent.TrieMap
      .empty[String, () => Option[graft.offset.OffsetValue]]
    private[meta] def notePending(key: String,
                                  compute: () => Option[graft.offset.OffsetValue]): Unit =
      pending.put(key, compute)
    /** Called by the orchestrator after a successful run. */
    def commitPending(): Unit = {
      pending.foreach { case (key, compute) =>
        compute().foreach(offsets.commit(key, _))
      }
      pending.clear()
    }
  }
}
