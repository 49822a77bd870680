package graft.pipeline

import graft.meta.{DataFormat, MetaTable, Metastore, PartitionScheme}
import org.apache.spark.sql.SparkSession

import java.time.LocalDate

/**
 * Config-driven pipeline definition — the reference's central UX
 * (reference: pramen/core .../core/pipeline/PipelineDef.scala,
 * core/app/config — HOCON pipelines with `transformer.class` job
 * entries). graft uses a dependency-free line format (`key = value`,
 * `#` comments) because no HOCON parser ships with Spark; the
 * capability surface is the same: declare metastore tables and jobs
 * in a file, run the file.
 *
 * {{{
 * pipeline.name = daily
 * bookkeeping.path = /data/state/journal  # durable run journal — REQUIRED for
 *                                         # cross-invocation skip-if-done, FillGaps,
 *                                         # catch-up and trackDays late-data detection
 * lock.dir = /data/state/locks            # optional (table, infoDate) run locks
 * journal.path = /data/state/task_journal # optional append-only task-event audit log
 *                                         # (every event kept: re-runs, failures, skips;
 *                                         # a bookkeeping.jdbc database journal wins)
 *
 * # OR: one bookkeeping DATABASE instead of shared-FS files — drivers
 * # without a common mount coordinate skip-if-done, run locks and
 * # incremental offsets through the RDBMS (reference: pramen
 * # `pramen.bookkeeping.jdbc` app config + core/rdb/PramenDb.scala).
 * # When configured it takes precedence over bookkeeping.path/lock.dir.
 * bookkeeping.jdbc.url = jdbc:postgresql://db:5432/graft
 * bookkeeping.jdbc.fallback.urls = jdbc:postgresql://db2:5432/graft  # HA rotation (comma-separated)
 * bookkeeping.jdbc.retries = 3                                       # connect attempts (default: URL count)
 * bookkeeping.jdbc.user = graft
 * bookkeeping.jdbc.password = ...
 * bookkeeping.jdbc.driver = org.postgresql.Driver      # with driver.jar: class to load from it
 * bookkeeping.jdbc.driver.jar = /opt/jdbc/postgres.jar # runtime-loaded driver jar (optional)
 * bookkeeping.jdbc.dialect = postgresql   # any graft.sql.SqlDialect name
 * bookkeeping.jdbc.table.prefix = graft_
 * bookkeeping.jdbc.locks = true           # db-arbitrated (table, date) run locks
 * bookkeeping.jdbc.offsets = true         # db-committed incremental offsets
 *                                         # (set false to combine with --date-parallelism)
 * bookkeeping.jdbc.metadata = true        # partition key-value metadata in the db
 *                                         # (false keeps the _graft/meta_kv file layout)
 * bookkeeping.offsets.cache = true        # per-run read-through offset cache over the
 *                                         # jdbc/dynamo stores (reference OffsetManagerCached):
 *                                         # one store read per table per run, commit
 *                                         # semantics unchanged; false re-reads per lookup
 * bookkeeping.jdbc.journal = true         # append-only task journal in the db (audit
 *                                         # trail lives in the SAME store as bookkeeping;
 *                                         # false falls back to journal.path if set)
 * bookkeeping.jdbc.executor.factory = com.acme.PooledExecutorFactory  # optional
 *                                         # SqlExecutorFactory FQCN (pooling, tests)
 *
 * # OR: Spark-storage journals (reference: BookkeeperText.scala,
 * # BookkeeperDeltaPath.scala). Precedence:
 * # jdbc > dynamodb > mongodb > delta > text > path.
 * bookkeeping.delta.path = /data/state/bk_delta  # append-only Delta journal table
 * bookkeeping.text.path = /data/state/bk_text    # pipe-CSV journal dir (shell/Spark readable)
 *
 * # OR: database journals over graft's own wire clients (no SDK/driver
 * # dependency; reference BookkeeperDynamoDb.scala / BookkeeperMongoDb.scala)
 * bookkeeping.dynamodb.endpoint = https://dynamodb.eu-west-1.amazonaws.com
 * bookkeeping.dynamodb.region = eu-west-1
 * bookkeeping.dynamodb.access.key = ...
 * bookkeeping.dynamodb.secret.key = ...          # SigV4-signed requests
 * bookkeeping.dynamodb.table.prefix = graft
 * bookkeeping.dynamodb.offsets = true   # conditional-put incremental offsets (default true)
 * bookkeeping.dynamodb.locks = true     # conditional-put (table, date) run locks (default true)
 * bookkeeping.dynamodb.journal = true   # append-only task journal in the same store (default true)
 * bookkeeping.mongodb.uri = mongodb://mongo:27017/graftdb  # OP_MSG wire protocol
 * bookkeeping.mongodb.collection = bookkeeping
 * bookkeeping.mongodb.locks = true      # unique-index-arbitrated run locks (default true)
 * bookkeeping.mongodb.journal = true    # append-only task journal in the same store (default true)
 * notification.html.dir = /data/reports   # optional HTML end-of-run reports
 * notification.email.to = ops@acme.com, oncall@acme.com  # validated at parse
 * notification.email.failures.to = oncall@acme.com  # failed runs go HERE instead
 * notification.email.allowed.domains = acme.com
 * hook.startup.class = com.acme.Prewarm   # Runnable before the first task
 * hook.shutdown.class = com.acme.Cleanup  # Runnable exactly once at the end
 *                                         # (normal completion OR signal path)
 * notification.smtp.host = mail.acme.com  # mail the HTML report to email.to
 * notification.smtp.port = 25             # (plain SMTP relay; TLS/auth is a
 * notification.smtp.from = graft@acme.com #  side-car relay's job)
 * notification.targets = com.acme.PagerTarget  # FQCNs of PipelineNotificationTarget
 * table.sales.path = /data/ms/sales
 * table.sales.format = parquet            # parquet|orc|json|csv|raw|delta
 * table.sales.partition = day             # day|month|year|yearmonth|none|overwrite
 * job.1.name = filter_sales
 * job.1.output = sales_clean
 * job.1.transformer = identity            # identity | sql | process | <FQCN of a Transformer>
 * job.1.inputs = sales
 * job.1.schedule = daily                  # daily | weekly:1,7 | monthly:1,last | incremental
 * job.1.info.date.expr = @runDate - 1
 * job.1.option.input.table = sales
 * job.1.option.filter = amount > 0
 * job.2.transformer = sql
 * job.2.sql = SELECT count(*) AS n FROM sales_clean
 * job.2.lazy = true                       # on-demand: runs when its output is READ,
 *                                         # never on a schedule (reference: lazy jobs)
 *
 * # per-operation runtime policy + declarative dependencies:
 * job.1.critical = true                   # failure aborts the pipeline
 * job.1.consume.threads = 2               # weighted parallelism slots
 * job.1.expected.delay.days = 1           # source lands a day late
 * job.1.kill.maximum.execution.time.seconds = 3600
 * job.1.dependency.1.tables = sales
 * job.1.dependency.1.date.from = @infoDate - 6   # gate window start
 * job.1.dependency.1.require.all = true          # full week present (default: any partition)
 * job.1.dependency.1.trigger.updates = true      # late landings re-run
 * table.sales.cache.policy = persist      # cache | persist | no_cache
 * table.sales.catalog.repair = add_partition    # O(1) registration per save
 * table.sales.write.option.maxRecordsPerFile = 5000000
 *
 * # operation types beyond transformations (reference:
 * # core/pipeline/OperationType.scala — same aliases):
 * source.raw_files.type = spark           # spark | catalog | raw | warc | factory FQCN
 * source.raw_files.path = /landing/sales
 * source.raw_files.format = csv
 * source.raw_files.option.header = true
 * source.raw_files.info.date.column = txn_date
 * sink.exports.type = localcsv            # spark | localcsv | cmdline | factory FQCN
 * sink.exports.path = /exports
 * job.3.type = ingestion                  # source -> metastore table
 * job.3.source = raw_files
 * job.3.output = sales
 * job.4.type = sink                       # metastore table -> sink
 * job.4.input = sales_clean
 * job.4.sink = exports
 * job.5.type = transfer                   # source -> sink directly
 * job.5.source = raw_files
 * job.5.sink = exports
 * }}}
 */
object PipelineConfig {

  /** Config-declared bookkeeping database (reference: pramen/core
    * .../core/rdb/PramenDb.scala behind `pramen.bookkeeping.jdbc`):
    * carries everything needed to open the shared database at RUN
    * time — parse time only validates (dialect name, factory FQCN),
    * it must not connect. */
  final case class JdbcBookkeeping(
      dialect: graft.sql.SqlDialect,
      tablePrefix: String,
      locks: Boolean,
      offsets: Boolean,
      metadata: Boolean,
      /** Append task-completion events to the `journal` table —
        * default true: the reference keeps the journal in the SAME
        * store as bookkeeping (JournalJdbc), so a jdbc fleet's audit
        * trail never splits across backends. */
      journal: Boolean = true,
      makeExecutor: () => graft.rdb.SqlExecutor) {
    /** Open the database and ensure its schema (idempotent,
      * version-gated migrations). */
    def connect(): graft.rdb.GraftDb = {
      val db = new graft.rdb.GraftDb(dialect, makeExecutor(), tablePrefix)
      db.initialize()
      db
    }
  }

  /** SMTP relay for the HTML report (host/port/from; recipients come
    * from `notification.email.to`). */
  final case class SmtpSettings(host: String, port: Int, from: String)

  final case class Parsed(name: String, tables: Seq[MetaTable], jobs: Seq[JobDef],
                          bookkeepingPath: Option[String] = None,
                          /** Pipe-CSV journal dir (reference:
                            * BookkeeperText.scala:43) — Spark/shell
                            * queryable; wins over bookkeeping.path. */
                          textBookkeepingPath: Option[String] = None,
                          /** Append-only Delta journal table (reference:
                            * BookkeeperDeltaPath.scala:38) — wins over
                            * text/FS paths; needs delta-spark. */
                          deltaBookkeepingPath: Option[String] = None,
                          /** DynamoDB bookkeeping factory (reference:
                            * BookkeeperDynamoDb.scala + OffsetManagerDynamoDb
                            * + TokenLockDynamoDb) — lazy so parse time only
                            * validates; yields the bookkeeper plus (unless
                            * `offsets`/`locks` = false) the conditional-put
                            * offset store and conditional-put run locks on
                            * one shared client. Wins over the storage
                            * journals, loses to jdbc. */
                          dynamoBookkeeping: Option[() => (graft.dynamo.BookkeeperDynamo, Option[graft.offset.OffsetStore], Option[(String, LocalDate) => RunLock], Option[TaskJournal])] = None,
                          /** MongoDB bookkeeping factory (reference:
                            * BookkeeperMongoDb.scala + MongoDbConnection +
                            * TokenLockMongoDb): lazy — the socket opens at
                            * run, the URI validates at parse; yields the
                            * bookkeeper plus (unless `locks = false`)
                            * unique-index-arbitrated run locks on the same
                            * connection. */
                          mongoBookkeeping: Option[() => (graft.mongo.BookkeeperMongo, Option[(String, LocalDate) => RunLock], Option[TaskJournal])] = None,
                          /** FS task-journal directory (`journal.path`
                            * — reference: core/journal/JournalHadoopFs).
                            * A `bookkeeping.jdbc` database journal wins
                            * over this (same-store discipline). */
                          journalPath: Option[String] = None,
                          /** Per-run read-through offset cache over the
                            * remote-RTT stores (reference:
                            * OffsetManagerCached) — `bookkeeping.offsets.cache`,
                            * default true; commit semantics unchanged. */
                          offsetsCache: Boolean = true,
                          lockDir: Option[String] = None,
                          environment: String = "local",
                          htmlReportDir: Option[String] = None,
                          notifyEmails: Seq[String] = Nil,
                          notifyFailureEmails: Seq[String] = Nil,
                          notificationTargets: Seq[PipelineNotificationTarget] = Nil,
                          jdbc: Option[JdbcBookkeeping] = None,
                          smtp: Option[SmtpSettings] = None,
                          startupHook: Option[Runnable] = None,
                          shutdownHook: Option[Runnable] = None,
                          /** Pipeline timezone (reference: pramen.timezone,
                            * GeneralConfig.scala:32): sets the session
                            * timezone and anchors "today" for the default
                            * run date — a pipeline in Johannesburg must
                            * not flip its info date at 22:00 local
                            * because the host runs UTC. */
                          timezone: Option[java.time.ZoneId] = None,
                          /** Session-level Spark conf from config
                            * (reference: pramen.spark.conf block,
                            * PipelineSparkSessionBuilder.scala:76). */
                          sparkSessionConf: Map[String, String] = Map.empty,
                          /** Allow several jobs writing one table
                            * (reference: pramen.enable.multiple.jobs.per.table). */
                          multipleJobsPerTable: Boolean = false,
                          /** Run without writing bookkeeping/offsets
                            * (reference: pramen.undercover). */
                          undercover: Boolean = false,
                          /** false = suppress the notification EMAIL
                            * when nothing ran (reference:
                            * pramen.email.if.no.changes, default true). */
                          emailIfNoChanges: Boolean = true,
                          /** Permit a pipeline with zero jobs
                            * (reference: pramen.allow.empty.pipeline,
                            * default false — an empty job list is
                            * usually a config error). */
                          allowEmptyPipeline: Boolean = false,
                          /** Hadoop configuration applied to the
                            * session's `sc.hadoopConfiguration`
                            * (reference: `hadoop.conf` /
                            * `hadoop.option` blocks,
                            * PipelineSparkSessionBuilder.scala:100 —
                            * S3 endpoints, credentials providers). */
                          hadoopConf: Map[String, String] = Map.empty,
                          /** Log the redacted effective config at
                            * startup (reference:
                            * pramen.log.effective.config). */
                          logEffectiveConfig: Boolean = false)

  def load(path: String): Parsed =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  /** Instantiate a user FQCN as a factory: a Scala `object` (resolved
    * via its MODULE$ singleton, with or without the trailing `$` in
    * config) or a class with a no-arg constructor. Errors carry the
    * config key so a typo'd class name points at its line. */
  private def instantiate[T](fqcn: String, key: String)(
      implicit ct: scala.reflect.ClassTag[T]): T = {
    val cls =
      try Class.forName(fqcn)
      catch {
        case e: ClassNotFoundException =>
          try Class.forName(fqcn + "$")
          catch { case _: ClassNotFoundException =>
            throw new IllegalArgumentException(s"$key: class not found: '$fqcn'", e) }
      }
    // a plain class instantiates via its no-arg constructor; a Scala
    // `object` resolves through the module class's MODULE$ singleton.
    // The ctor attempt can fail two ways for an object: the mirror
    // class has NO no-arg ctor (NoSuchMethod) and the module class
    // named with '$' has a PRIVATE one (IllegalAccess) — both fall
    // through to MODULE$.
    val inst =
      try {
        try cls.getDeclaredConstructor().newInstance()
        catch {
          case _: NoSuchMethodException | _: IllegalAccessException =>
            val modCls = if (cls.getName.endsWith("$")) cls else Class.forName(cls.getName + "$")
            modCls.getField("MODULE$").get(null)
        }
      } catch {
        case e: ReflectiveOperationException =>
          throw new IllegalArgumentException(
            s"$key: cannot instantiate '$fqcn' (need a no-arg constructor or an object)", e)
      }
    if (!ct.runtimeClass.isInstance(inst))
      throw new IllegalArgumentException(
        s"$key: '$fqcn' does not implement ${ct.runtimeClass.getName}")
    inst.asInstanceOf[T]
  }

  private[pipeline] def parseKv(text: String): Map[String, String] = text.linesIterator
    .map(_.trim)
    .filter(l => l.nonEmpty && !l.startsWith("#"))
    .map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"Malformed config line (expected key = value): $l")
      // strip trailing comments outside of values containing '#'? keep simple: full value
      l.substring(0, i).trim -> l.substring(i + 1).trim
    }
    .toMap

  /** Key substrings whose values never reach a log (reference:
    * Keys.KEYS_TO_REDACT — password/secret/token/key material). */
  private[pipeline] val RedactTokens =
    Set("password", "secret", "token", "api.key", "access.key", "pwd", "auth")

  /** The effective config rendered for logging, sensitive values
    * replaced (reference: ConfigUtils.renderRedactedKeyValue:261 under
    * `pramen.log.effective.config`) — operators diff THIS against what
    * they think tonight's run used; secrets must survive the paste.
    * Keys normalize '_' to '.' before matching so underscore-styled
    * names (my.api_key, fs.s3a.access_key — both in the reference's
    * redaction list) redact like their dotted twins. */
  private[pipeline] def renderEffectiveConfig(kv: Map[String, String]): Seq[String] =
    kv.toSeq.sortBy(_._1).map { case (k, v) =>
      val lk = k.toLowerCase.replace('_', '.')
      if (RedactTokens.exists(lk.contains)) s"$k = [redacted]" else s"$k = $v"
    }

  def parse(text: String): Parsed = {
    val kv: Map[String, String] = parseKv(text)

    val name = kv.getOrElse("pipeline.name", "pipeline")

    val tableNames = kv.keys.collect { case k if k.startsWith("table.") => k.split("\\.")(1) }.toSeq.distinct.sorted
    val tables = tableNames.map { t =>
      def opt(s: String) = kv.get(s"table.$t.$s")
      val format = opt("format").getOrElse("parquet") match {
        case "parquet" => DataFormat.Parquet
        case "orc"     => DataFormat.Orc
        case "json"    => DataFormat.Json
        case "csv"     => DataFormat.Csv()
        case "raw"     => DataFormat.Raw
        case "delta"   => DataFormat.Delta
        case "iceberg" =>
          // reference DataFormatParser.scala:59: 'table' is mandatory
          // for iceberg (catalog identity), 'path' is an optional
          // location property; names are lowercased (Iceberg rule)
          DataFormat.Iceberg(
            opt("table").getOrElse(throw new IllegalArgumentException(
              s"table.$t.table is required for the 'iceberg' format")).toLowerCase,
            location = opt("path"),
            properties = kv.collect {
              case (k, v) if k.startsWith(s"table.$t.property.") =>
                k.stripPrefix(s"table.$t.property.") -> v
            })
        case "null" => DataFormat.NullFormat
        case "transient_eager" =>
          DataFormat.TransientEager(
            opt("cache.policy").map(graft.meta.CachePolicy.parse)
              .getOrElse(graft.meta.CachePolicy.Cache))
        case other => throw new IllegalArgumentException(s"table.$t.format: unknown format '$other'")
      }
      val scheme = opt("partition").getOrElse("day") match {
        case "day"       => PartitionScheme.ByDay
        case "month"     => PartitionScheme.ByMonth()
        case "yearmonth" => PartitionScheme.ByYearMonth()
        case "year"      => PartitionScheme.ByYear()
        case "none"      => PartitionScheme.NotPartitioned
        case "overwrite" => PartitionScheme.Overwrite
        case other => throw new IllegalArgumentException(s"table.$t.partition: unknown scheme '$other'")
      }
      MetaTable(t,
        // Iceberg tables are catalog-addressed ('path' is the optional
        // location property, carried on the format above); null and
        // transient tables have no storage at all
        opt("path").getOrElse(format match {
          case _: DataFormat.Iceberg | DataFormat.NullFormat |
               _: DataFormat.TransientEager => ""
          case _ => throw new IllegalArgumentException(s"table.$t.path is required")
        }),
        format = format,
        infoDateColumn = opt("info.date.column").getOrElse("info_date"),
        scheme = scheme,
        transientCache = opt("transient").contains("true"),
        catalogSync = opt("catalog.sync").contains("true"),
        catalogName = opt("catalog.name"),
        cachePolicy = opt("cache.policy").map(graft.meta.CachePolicy.parse),
        catalogRepair = opt("catalog.repair").map(graft.meta.CatalogRepair.parse)
          .getOrElse(graft.meta.CatalogRepair.Recover),
        readOptions = kv.collect {
          case (k, v) if k.startsWith(s"table.$t.read.option.") =>
            k.stripPrefix(s"table.$t.read.option.") -> v
        },
        // per-table batchid.column; always.add.batchid.column = true
        // stamps every table with the default name (reference:
        // ALWAYS_ADD_BATCHID_COLUMN + MetaTable.BATCH_ID_COLUMN_KEY)
        batchIdColumn = opt("batchid.column").orElse(
          if (kv.get("always.add.batchid.column").contains("true"))
            Some("graft_batchid") else None),
        writeOptions = kv.collect {
          case (k, v) if k.startsWith(s"table.$t.write.option.") =>
            k.stripPrefix(s"table.$t.write.option.") -> v
        })
    }

    // V2 factory context (reference: ExternalChannelFactoryV2's
    // workflowConfig): the full parsed key-value view plus the task's
    // info date when built inside a task run
    def channelContext(infoDate: Option[LocalDate]) = graft.sources.ChannelContext(
      pipelineName = name,
      environment = kv.getOrElse("environment.name", "local"),
      workflowConfig = kv,
      infoDate = infoDate)

    // ── source declarations (reference: pramen.sources HOCON block) ──
    val sourceNames = kv.keys.collect { case k if k.startsWith("source.") => k.split("\\.")(1) }
      .toSeq.distinct
    val sources: Map[String, (SparkSession, Option[LocalDate]) => graft.sources.GraftSource] =
      sourceNames.map { s =>
      def opt(k: String) = kv.get(s"source.$s.$k")
      def req(k: String) = opt(k).getOrElse(
        throw new IllegalArgumentException(s"source.$s.$k is required"))
      val srcOptions = kv.collect {
        case (k, v) if k.startsWith(s"source.$s.option.") => k.stripPrefix(s"source.$s.option.") -> v
      }
      val infoCol = opt("info.date.column")
      val infoType = opt("info.date.type").getOrElse("date")
      val build: (SparkSession, Option[LocalDate]) => graft.sources.GraftSource =
        opt("type").getOrElse("spark") match {
        case "spark" =>
          val path = req("path"); val fmt = opt("format").getOrElse("parquet")
          (sp, _) => new graft.sources.SparkSource(sp, path, fmt, srcOptions, infoCol, infoType)
        case "catalog" =>
          val stmt = opt("table").orElse(opt("sql")).getOrElse(
            throw new IllegalArgumentException(s"source.$s needs 'table' or 'sql'"))
          val isSql = opt("table").isEmpty
          (sp, _) => new graft.sources.CatalogSource(sp, stmt, isSql, infoCol, infoType)
        case "raw" =>
          val path = req("path")
          (sp, _) => new graft.sources.RawFileSource(sp, path)
        case "warc" =>
          // crawl ingestion: WARC archives with WARC-Date windowing,
          // optional charset decode + HTML extraction in the scan.
          // ONE option parser: delegate to the factory so the built-in
          // type and the FQCN route cannot drift apart
          val warcOpts = kv.collect {
            case (k, v) if k.startsWith(s"source.$s.") => k.stripPrefix(s"source.$s.") -> v
          }
          req("path") // parse-time validation, like every built-in type
          (sp, _) => graft.sources.WarcSourceFactory(sp, warcOpts)
        case "kafka.avro" =>
          // incremental Kafka ingestion with Confluent-framed Avro
          // payloads (reference extras/source/KafkaAvroSource.scala);
          // transport is graft's own wire client, schema comes from
          // the registry at read time
          val allOpts = kv.collect {
            case (k, v) if k.startsWith(s"source.$s.") => k.stripPrefix(s"source.$s.") -> v
          }
          // parse-time validation: required keys and offset spellings
          // fail the config load, not tonight's first incremental run
          Seq("kafka.bootstrap.servers", "topic", "schema.registry.url").foreach { k =>
            if (!allOpts.contains(k))
              throw new IllegalArgumentException(s"source.$s.$k is required for kafka.avro")
          }
          allOpts.get("kafka.starting.offsets").foreach(graft.kafka.KafkaBatch.OffsetSpec.parse)
          (sp, _) => graft.kafka.KafkaAvroSourceFactory(sp, allOpts)
        case fqcn if fqcn.contains(".") =>
          // user-provided factory FQCN, same contract as the
          // reference's ExternalChannelFactory (V1) or
          // ExternalChannelFactoryV2 (context-aware) — dispatched on
          // the implemented trait. Instantiated at PARSE time so a
          // typo'd class name fails the config load, not the Nth job
          // of tonight's run.
          val allOpts = kv.collect {
            case (k, v) if k.startsWith(s"source.$s.") => k.stripPrefix(s"source.$s.") -> v
          }
          instantiate[AnyRef](fqcn, s"source.$s.type") match {
            case f: graft.sources.SourceFactory => (sp, _) => f(sp, allOpts)
            case f2: graft.sources.SourceFactoryV2 =>
              (sp, d) => f2(sp, allOpts, channelContext(d))
            case _ => throw new IllegalArgumentException(
              s"source.$s.type: '$fqcn' implements neither SourceFactory nor SourceFactoryV2")
          }
        case other => throw new IllegalArgumentException(s"source.$s.type: unknown type '$other'")
      }
      s -> build
    }.toMap

    // ingestion column-name sanitization (reference: Keys.scala:51-52 —
    // global `pramen.special.characters.in.column.names` with a
    // per-source override of the same key; empty string disables)
    def sanitizeCharsOf(sourceName: String): String =
      kv.get(s"source.$sourceName.special.characters.in.column.names")
        .orElse(kv.get("special.characters.in.column.names"))
        .getOrElse(graft.sources.ColumnSanitizer.DefaultSpecialCharacters)

    // ── sink declarations (reference: pramen.sinks HOCON block) ──
    val sinkNames = kv.keys.collect { case k if k.startsWith("sink.") => k.split("\\.")(1) }
      .toSeq.distinct
    val sinks: Map[String, graft.sinks.GraftSink] = sinkNames.map { s =>
      def opt(k: String) = kv.get(s"sink.$s.$k")
      def req(k: String) = opt(k).getOrElse(
        throw new IllegalArgumentException(s"sink.$s.$k is required"))
      val sinkOptions = kv.collect {
        case (k, v) if k.startsWith(s"sink.$s.option.") => k.stripPrefix(s"sink.$s.option.") -> v
      }
      val sink: graft.sinks.GraftSink = opt("type").getOrElse("spark") match {
        case "spark" =>
          // _INFO metadata file on export (reference: extras/infofile —
          // same keys: generate flag, source application, country)
          val infoFile =
            if (opt("info.file").contains("true"))
              Some(graft.sinks.InfoFileConfig(
                application = opt("info.file.application").getOrElse("graft"),
                country = opt("info.file.country").getOrElse("ZZ"),
                historyType = opt("info.file.history.type").getOrElse("snapshot")))
            else None
          new graft.sinks.SparkSink(req("path"), opt("format").getOrElse("parquet"),
            formatOptions = sinkOptions,
            partitionBy = opt("partition.by").map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty),
            numberOfPartitions = opt("partitions").map(_.toInt),
            infoFile = infoFile)
        case "localcsv" =>
          new graft.sinks.LocalCsvSink(req("path"),
            separator = opt("separator").getOrElse(","),
            header = !opt("header").contains("false"),
            quoteAll = opt("quote.all").contains("true"),
            nameTransform = opt("name.transform").getOrElse("none") match {
              case "upper" => graft.sinks.ColumnNameTransform.MakeUpper
              case "lower" => graft.sinks.ColumnNameTransform.MakeLower
              case "sanitize" => graft.sinks.ColumnNameTransform.Sanitize
              case _ => graft.sinks.ColumnNameTransform.NoChange
            })
        case "cmdline" =>
          new graft.sinks.CmdLineSink(req("staging"), req("command"),
            timeoutSeconds = opt("timeout.seconds").map(_.toLong).getOrElse(300L))
        case "kafka.avro" =>
          // metastore -> Kafka export with registry-framed Avro rows
          // (reference extras/sink/KafkaAvroSink.scala); transport is
          // graft's wire client, schema registered at send time
          val registry = new graft.kafka.SchemaRegistryClient(
            req("schema.registry.url"), new graft.databricks.JdkHttpTransport())
          val naming = opt("schema.registry.value.naming.strategy").map { st =>
            graft.kafka.SubjectNaming.parse(st,
              opt("schema.registry.value.record.name"),
              opt("schema.registry.value.record.namespace"))
          }.getOrElse(graft.kafka.SubjectNaming.TopicName)
          // kafka.security.protocol / kafka.sasl.* port verbatim from
          // a kafka-clients sink config (r16)
          val secOpts = Seq("kafka.security.protocol", "kafka.sasl.mechanism",
            "kafka.sasl.username", "kafka.sasl.password")
            .flatMap(k => opt(k).map(k -> _)).toMap
          val security = graft.kafka.KafkaSecurity.fromOptions(secOpts)
          new graft.kafka.KafkaAvroSink(
            req("kafka.bootstrap.servers"), req("topic"), registry,
            valueNaming = naming, keyColumn = opt("key.column"),
            clientFactory = bs => new graft.kafka.KafkaWireClient(bs, security = security),
            codec = opt("kafka.producer.compression")
              .map(graft.kafka.KafkaWire.codecId).getOrElse(0))
        case "enceladus" =>
          // versioned raw-folder conventions (reference extras/sink/
          // EnceladusSink.scala); per-send keys (path, info.version,
          // publish.base.path, dataset.name, enceladus.run.command,
          // hive.table) ride the JOB options
          graft.sinks.EnceladusSink(kv.collect {
            case (k, v) if k.startsWith(s"sink.$s.") => k.stripPrefix(s"sink.$s.") -> v
          })
        case fqcn if fqcn.contains(".") =>
          val allOpts = kv.collect {
            case (k, v) if k.startsWith(s"sink.$s.") => k.stripPrefix(s"sink.$s.") -> v
          }
          instantiate[AnyRef](fqcn, s"sink.$s.type") match {
            case f: graft.sinks.SinkFactory => f(allOpts)
            // sinks are built at parse, before any task: no info date
            // (send() receives it per call)
            case f2: graft.sinks.SinkFactoryV2 => f2(allOpts, channelContext(None))
            case _ => throw new IllegalArgumentException(
              s"sink.$s.type: '$fqcn' implements neither SinkFactory nor SinkFactoryV2")
          }
        case other => throw new IllegalArgumentException(s"sink.$s.type: unknown type '$other'")
      }
      s -> sink
    }.toMap

    val jobIds = kv.keys.collect { case k if k.startsWith("job.") => k.split("\\.")(1) }
      .toSeq.distinct.sortBy(_.toInt)
      // disabled operations are dropped at parse time (reference:
      // OperationDef DISABLED_KEY — both spellings accepted)
      .filterNot(j => kv.get(s"job.$j.disabled").orElse(kv.get(s"job.$j.disable")).contains("true"))
    val jobs = jobIds.map { j =>
      def opt(s: String) = kv.get(s"job.$j.$s")
      def req(s: String) = opt(s).getOrElse(
        throw new IllegalArgumentException(s"job.$j.$s is required"))
      val inputs = opt("inputs").map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
      val options = kv.collect {
        case (k, v) if k.startsWith(s"job.$j.option.") => k.stripPrefix(s"job.$j.option.") -> v
      }
      def sourceOf(name: String) = sources.getOrElse(name,
        throw new IllegalArgumentException(s"job.$j.source: source '$name' is not declared"))
      def sinkOf(name: String) = sinks.getOrElse(name,
        throw new IllegalArgumentException(s"job.$j.sink: sink '$name' is not declared"))

      // operation type (reference: pramen/core
      // .../core/pipeline/OperationType.scala — ingestion |
      // transformation | sink | transfer, with the same aliases)
      val (outputTable, transformer, jobInputs, sinkTarget) =
        opt("type").getOrElse("transformation") match {
          case "transformation" | "transformer" | "transform" =>
            val t: Transformer = req("transformer") match {
              case "identity" => new IdentityTransformer
              case "sql" => new SqlTransformer(req("sql"), inputs)
              case "process" => new ProcessTransformer(req("command"), req("staging"), inputs,
                timeoutSeconds = opt("timeout.seconds").map(_.toLong).getOrElse(600L))
              case fqcn => // reference-style transformer.class: instantiate by name
                Class.forName(fqcn).getDeclaredConstructor().newInstance().asInstanceOf[Transformer]
            }
            (req("output"), t, inputs, None)
          case "ingestion" | "sourcing" | "extract" =>
            val srcBuild = sourceOf(req("source"))
            (req("output"),
              new IngestionTransformer((sp, d) => srcBuild(sp, Some(d)),
                sanitizeCharsOf(req("source"))), inputs, None)
          case "sink" | "load" =>
            val input = opt("input").orElse(inputs.headOption).getOrElse(
              throw new IllegalArgumentException(s"job.$j (sink) needs 'input' or 'inputs'"))
            val sinkName = req("sink")
            (opt("output").getOrElse(s"$input->$sinkName"),
              new IdentityTransformer, Seq(input), Some(SinkTarget(sinkOf(sinkName), input)))
          case "transfer" | "source2sink" =>
            val srcName = req("source"); val sinkName = req("sink")
            val srcBuild = sourceOf(srcName)
            (opt("output").getOrElse(s"$srcName->$sinkName"),
              new IngestionTransformer((sp, d) => srcBuild(sp, Some(d)),
                sanitizeCharsOf(srcName)), inputs,
              Some(SinkTarget(sinkOf(sinkName), srcName)))
          case other => throw new IllegalArgumentException(s"job.$j.type: unknown type '$other'")
        }

      JobDef(
        name = opt("name").getOrElse(s"job_$j"),
        outputTable = outputTable,
        transformer = transformer,
        inputTables = jobInputs,
        schedule = opt("schedule").map(Schedule.parse).getOrElse(Schedule.Daily()),
        infoDateExpr = opt("info.date.expr").getOrElse("@runDate"),
        options = sinkTarget match {
          // a sink job's reader is the IdentityTransformer — point it
          // at the input table unless the config already did
          case Some(_) if jobInputs.nonEmpty && !options.contains("input.table") =>
            options + ("input.table" -> jobInputs.head)
          case _ => options
        },
        retries = opt("retries").map(_.toInt).getOrElse(0),
        trackDays = opt("track.days").map(_.toInt).getOrElse(0),
        initialDateExpr = opt("initial.date.expr").getOrElse("@runDate"),
        sink = sinkTarget,
        // declarative output shaping (reference: OperationDef
        // schema.transformations / filters / columns blocks)
        outputTransforms = kv.keys
          .collect { case k if k.startsWith(s"job.$j.transformation.") => k.split("\\.")(3) }
          .toSeq.distinct.sortBy(_.toInt)
          .map(n => OutputTransform(
            kv.getOrElse(s"job.$j.transformation.$n.col",
              throw new IllegalArgumentException(s"job.$j.transformation.$n.col is required")),
            kv.get(s"job.$j.transformation.$n.expr"))),
        outputFilters = kv.keys
          .collect { case k if k.startsWith(s"job.$j.filter.") => k.split("\\.")(3) }
          .toSeq.distinct.sortBy(_.toInt)
          .map(n => kv(s"job.$j.filter.$n")),
        outputColumns = opt("columns").map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty),
        // fail.if.no.data is minimum.records = 1 (reference keeps both keys)
        minimumRecords = math.max(
          opt("minimum.records").map(_.toLong).getOrElse(0L),
          if (opt("fail.if.no.data").contains("true")) 1L else 0L),
        sparkConf = kv.collect {
          case (k, v) if k.startsWith(s"job.$j.spark.conf.") =>
            k.stripPrefix(s"job.$j.spark.conf.") -> v
        },
        optionalInputs = opt("optional.inputs")
          .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty),
        // declarative date-windowed dependencies (reference:
        // api/status/MetastoreDependency — job.N.dependency.M.* blocks)
        dependencies = kv.keys
          .collect { case k if k.startsWith(s"job.$j.dependency.") => k.split("\\.")(3) }
          .toSeq.distinct
          .map { tok =>
            require(tok.nonEmpty && tok.forall(_.isDigit),
              s"job.$j.dependency.* keys must be indexed " +
                s"(job.$j.dependency.<n>.<key>), saw 'job.$j.dependency.$tok...'")
            tok
          }
          .sortBy(_.toInt)
          .map { m =>
            def dopt(s: String) = kv.get(s"job.$j.dependency.$m.$s")
            Dependency(
              tables = dopt("tables").getOrElse(throw new IllegalArgumentException(
                s"job.$j.dependency.$m.tables is required")).split(",").map(_.trim).toSeq,
              dateFromExpr = dopt("date.from").getOrElse("@infoDate"),
              dateUntilExpr = dopt("date.until"),
              optional = dopt("optional").contains("true"),
              passive = dopt("passive").contains("true"),
              triggerUpdates = dopt("trigger.updates").contains("true"),
              requireAll = dopt("require.all").contains("true"))
          },
        // per-operation runtime policy (reference: OperationDef)
        isCritical = opt("critical").contains("true"),
        alwaysAttempt = opt("always.attempt").contains("true"),
        ignoreSchemaChange = opt("ignore.schema.change").contains("true"),
        consumeThreads = opt("consume.threads").map(_.toInt).getOrElse(1),
        processingTimestampColumn = opt("processing.timestamp.column"),
        expectedDelayDays = opt("expected.delay.days").map(_.toInt).getOrElse(0),
        warnMaxExecutionTimeSeconds = opt("warn.maximum.execution.time.seconds").map(_.toInt),
        killMaxExecutionTimeSeconds = opt("kill.maximum.execution.time.seconds").map(_.toInt),
        // slow-task warning threshold (reference: pramen.warn.throughput.rps)
        warnMinRps = opt("warn.throughput.rps")
          .orElse(kv.get("warn.throughput.rps")).map(_.toInt).getOrElse(0),
        // on-demand job (reference: TransientJobManager lazy jobs) —
        // never scheduled, materialized when its output is read
        isLazy = opt("lazy").contains("true"))
    }

    // durable pipeline state: without `bookkeeping.path` every CLI
    // invocation starts from an empty journal, so skip-if-done,
    // FillGaps backfills, missed-slot catch-up and trackDays late-data
    // detection all see no history — the cross-invocation modes only
    // work when this key points at shared storage
    Parsed(name, tables, jobs,
      bookkeepingPath = kv.get("bookkeeping.path"),
      textBookkeepingPath = kv.get("bookkeeping.text.path"),
      deltaBookkeepingPath = kv.get("bookkeeping.delta.path"),
      dynamoBookkeeping = kv.get("bookkeeping.dynamodb.endpoint").map { endpoint =>
        // required keys validated AT PARSE; the client connects at run
        def req(k: String) = kv.getOrElse(s"bookkeeping.dynamodb.$k",
          throw new IllegalArgumentException(s"bookkeeping.dynamodb.$k is required"))
        val (region, ak, sk) = (req("region"), req("access.key"), req("secret.key"))
        val prefix = kv.getOrElse("bookkeeping.dynamodb.table.prefix", "graft")
        val withOffsets = !kv.get("bookkeeping.dynamodb.offsets").contains("false")
        val withLocks = !kv.get("bookkeeping.dynamodb.locks").contains("false")
        () => {
          val client = new graft.dynamo.DynamoDbClient(endpoint, region, ak, sk,
            new graft.databricks.JdkHttpTransport())
          val lockFactory =
            if (!withLocks) None
            else {
              // ensure the lock table ONCE at store resolution, not per
              // (table, date) lock — a 500-table run must not DescribeTable
              // 500 times
              client.ensureTableActive(s"${prefix}_locks", "lockToken")
              Some((t: String, dd: LocalDate) =>
                new graft.dynamo.TokenLockDynamo(client, s"${t}_$dd", prefix,
                  ensureTable = false): RunLock)
            }
          (new graft.dynamo.BookkeeperDynamo(client, prefix),
            if (withOffsets) Some(new graft.dynamo.OffsetStoreDynamo(client, prefix)) else None,
            lockFactory,
            if (!kv.get("bookkeeping.dynamodb.journal").contains("false"))
              Some(new graft.dynamo.JournalDynamo(client, prefix): TaskJournal)
            else None)
        }
      },
      mongoBookkeeping = kv.get("bookkeeping.mongodb.uri").map { uri =>
        // mongodb://host:port/db — validated AT PARSE, connected at run
        val u = java.net.URI.create(uri)
        require(u.getScheme == "mongodb" && u.getHost != null,
          s"bookkeeping.mongodb.uri: expected mongodb://host[:port]/db, got '$uri'")
        val db = Option(u.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            s"bookkeeping.mongodb.uri: database name missing in '$uri'"))
        val port = if (u.getPort > 0) u.getPort else 27017
        val coll = kv.getOrElse("bookkeeping.mongodb.collection", "bookkeeping")
        val withLocks = !kv.get("bookkeeping.mongodb.locks").contains("false")
        () => {
          val client = new graft.mongo.MongoClient(u.getHost, port)
          val lockFactory =
            if (!withLocks) None
            else {
              // unique lock index created ONCE per resolution (idempotent
              // on the server, but one round-trip per run beats one per
              // (table, date) lock)
              client.createIndex(db, "locks", Seq("token" -> 1),
                "graft_lock_token", unique = true)
              Some((t: String, dd: LocalDate) =>
                new graft.mongo.TokenLockMongo(client, db, s"${t}_$dd",
                  ensureIndex = false): RunLock)
            }
          (new graft.mongo.BookkeeperMongo(client, db, coll), lockFactory,
            if (!kv.get("bookkeeping.mongodb.journal").contains("false"))
              Some(new graft.mongo.JournalMongo(client, db): TaskJournal)
            else None)
        }
      },
      journalPath = kv.get("journal.path"),
      offsetsCache = !kv.get("bookkeeping.offsets.cache").contains("false"),
      lockDir = kv.get("lock.dir"),
      environment = kv.getOrElse("environment.name", "local"),
      htmlReportDir = kv.get("notification.html.dir"),
      // recipients validated AT PARSE: a typo'd on-call address must
      // fail the config load, not silently drop from outage mail
      notifyEmails = validatedEmails(kv, "notification.email.to"),
      notifyFailureEmails = validatedEmails(kv, "notification.email.failures.to"),
      // user notification targets by FQCN (reference:
      // core/notify/PipelineNotificationTargetFactory.scala:28 —
      // pipeline.notification.targets), instantiated at parse time
      // like the other FQCN channels so typos fail the config load
      notificationTargets = kv.get("notification.targets")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        .map { fqcn =>
          val t = instantiate[PipelineNotificationTarget](fqcn, "notification.targets")
          // config-driven targets (Ecs/Hyperdrive extras) receive the
          // raw config + declared tables right after instantiation, so
          // a missing required key fails the config LOAD, not the
          // first end-of-task notification
          t match { case c: ConfigurableTarget => c.configure(kv, tables); case _ => () }
          t
        },
      // a typo'd zone id must fail the parse, not shift tonight's
      // info dates to the host's zone
      timezone = kv.get("timezone").map { tz =>
        try java.time.ZoneId.of(tz)
        catch { case e: java.time.DateTimeException =>
          throw new IllegalArgumentException(s"timezone: unknown zone id '$tz'", e) }
      },
      sparkSessionConf = kv.collect {
        case (k, v) if k.startsWith("spark.conf.") => k.stripPrefix("spark.conf.") -> v
      },
      multipleJobsPerTable = kv.get("enable.multiple.jobs.per.table").contains("true"),
      undercover = kv.get("undercover").contains("true"),
      emailIfNoChanges = !kv.get("notification.email.if.no.changes").contains("false"),
      allowEmptyPipeline = kv.get("allow.empty.pipeline").contains("true"),
      hadoopConf = kv.collect {
        case (k, v) if k.startsWith("hadoop.conf.") => k.stripPrefix("hadoop.conf.") -> v
        case (k, v) if k.startsWith("hadoop.option.") => k.stripPrefix("hadoop.option.") -> v
      },
      logEffectiveConfig = kv.get("log.effective.config").contains("true"),
      // user startup/shutdown hooks by FQCN (reference: core/app/config
      // /HookConfig.scala — pramen.hook.{startup,shutdown}.class):
      // startup runs before the first task, shutdown exactly once at
      // the end — normal completion OR the signal path
      startupHook = kv.get("hook.startup.class")
        .map(instantiate[Runnable](_, "hook.startup.class")),
      shutdownHook = kv.get("hook.shutdown.class")
        .map(instantiate[Runnable](_, "hook.shutdown.class")),
      smtp = kv.get("notification.smtp.host").map { h =>
        // from is required with a host: a report mail without a valid
        // envelope sender is rejected by most relays — fail the parse,
        // not tonight's delivery
        SmtpSettings(h,
          kv.get("notification.smtp.port").map(_.toInt).getOrElse(25),
          kv.getOrElse("notification.smtp.from", throw new IllegalArgumentException(
            "notification.smtp.from is required when notification.smtp.host is set")))
      },
      jdbc = {
        val url = kv.get("bookkeeping.jdbc.url")
        val factoryFqcn = kv.get("bookkeeping.jdbc.executor.factory")
        if (url.isEmpty && factoryFqcn.isEmpty) None
        else Some {
          // factory FQCN resolved AT PARSE (typos fail the config
          // load); the connection itself opens at run time
          val makeExecutor: () => graft.rdb.SqlExecutor = factoryFqcn match {
            case Some(fqcn) =>
              val f = instantiate[graft.rdb.SqlExecutorFactory](
                fqcn, "bookkeeping.jdbc.executor.factory")
              val opts = kv.collect {
                case (k, v) if k.startsWith("bookkeeping.jdbc.") =>
                  k.stripPrefix("bookkeeping.jdbc.") -> v
              }
              () => f(opts)
            case None =>
              val u = url.get
              val user = kv.get("bookkeeping.jdbc.user").orNull
              val password = kv.get("bookkeeping.jdbc.password").orNull
              // runtime-loaded driver jar (S18): validated at parse
              // (jar key without a driver class is a config typo),
              // loaded lazily once at first connection open
              val driverJar = kv.get("bookkeeping.jdbc.driver.jar")
              val driverClass = kv.get("bookkeeping.jdbc.driver")
              if (driverJar.nonEmpty && driverClass.isEmpty)
                throw new IllegalArgumentException(
                  "bookkeeping.jdbc.driver is required when bookkeeping.jdbc.driver.jar is set")
              // HA bookkeeping databases: fallback URLs rotate on
              // connect failure (S16), selector shared across executor
              // creations so the last working URL stays first choice
              val fallbacks = kv.get("bookkeeping.jdbc.fallback.urls")
                .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
              val retries = kv.get("bookkeeping.jdbc.retries").map(v =>
                try v.toInt catch {
                  case _: NumberFormatException => throw new IllegalArgumentException(
                    s"bookkeeping.jdbc.retries must be an integer, got '$v'")
                })
              // distinct: templated HA configs often repeat the
              // primary in the fallback list — harmless redundancy,
              // not a parse error
              val selector =
                new graft.sources.JdbcUrlSelector((u +: fallbacks).distinct, retries)
              val openConn: String => java.sql.Connection = driverJar match {
                case Some(jar) =>
                  lazy val dd = graft.sources.DynamicDriver.load(jar, driverClass.get)
                  x => {
                    val p = new java.util.Properties()
                    if (user != null) p.put("user", user)
                    if (password != null) p.put("password", password)
                    dd.connect(x, p)
                  }
                case None =>
                  x => java.sql.DriverManager.getConnection(x, user, password)
              }
              () => new graft.rdb.ConnectionExecutor(selector.withUrl(openConn))
          }
          JdbcBookkeeping(
            dialect = graft.sql.SqlDialect.forName(
              kv.getOrElse("bookkeeping.jdbc.dialect", "generic")),
            tablePrefix = kv.getOrElse("bookkeeping.jdbc.table.prefix", ""),
            locks = !kv.get("bookkeeping.jdbc.locks").contains("false"),
            offsets = !kv.get("bookkeeping.jdbc.offsets").contains("false"),
            metadata = !kv.get("bookkeeping.jdbc.metadata").contains("false"),
            journal = !kv.get("bookkeeping.jdbc.journal").contains("false"),
            makeExecutor = makeExecutor)
        }
      })
  }

  /** Parse-time recipient validation against the shared allow-list
    * (`notification.email.allowed.domains`); errors name the key. */
  private def validatedEmails(kv: Map[String, String], key: String): Seq[String] =
    kv.get(key).map { to =>
      val domains = kv.get("notification.email.allowed.domains")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val v = EmailValidation.validate(to, domains)
      if (v.invalidFormat.nonEmpty || v.invalidDomain.nonEmpty)
        throw new IllegalArgumentException(s"$key: " +
          (if (v.invalidFormat.nonEmpty)
            s"malformed: ${v.invalidFormat.mkString(", ")}" else "") +
          (if (v.invalidFormat.nonEmpty && v.invalidDomain.nonEmpty) "; " else "") +
          (if (v.invalidDomain.nonEmpty)
            s"outside allowed domains: ${v.invalidDomain.mkString(", ")}" else ""))
      v.valid
    }.getOrElse(Nil)

  private[pipeline] final case class ResolvedStores(
      bookkeeper: BookkeeperStore,
      offsets: Option[graft.offset.OffsetStore],
      lockFactory: Option[(String, LocalDate) => RunLock],
      metadata: Option[graft.meta.MetadataStore],
      journal: Option[TaskJournal] = None)

  /** Resolve the durable stores for a run: a config-declared
    * bookkeeping DATABASE wins over every storage journal, then the
    * Delta table (`bookkeeping.delta.path`), then the pipe-CSV dir
    * (`bookkeeping.text.path`), then the FS journal / `fallback`
    * (the reference behaves the same way — JDBC bookkeeping is the
    * production mode, storage backends the alternatives). The Spark
    * backends need a session; resolution fails loudly when one is
    * configured and no session is supplied (planning surfaces pass
    * `spark = None`). */
  private[pipeline] def resolveStores(parsed: Parsed, fallback: BookkeeperStore,
                                      spark: Option[SparkSession] = None): ResolvedStores = {
    def sparkFor(key: String): SparkSession = spark.getOrElse(
      throw new IllegalStateException(s"$key needs a SparkSession at store resolution"))
    // journal backend precedence mirrors bookkeeping's: the jdbc
    // database (same-store discipline, reference JournalJdbc) wins;
    // otherwise `journal.path` selects the FS journal; else no journal
    // def, not val: the Journal constructor replays the directory
    // (one read+parse per event file), so it must only construct when
    // this backend actually wins — and never under undercover, whose
    // journal is dropped below before anything could read it
    def fsJournal =
      if (parsed.undercover) None
      else parsed.journalPath.map(p => new Journal(Some(p)): TaskJournal)
    // per-run read-through cache over the remote-RTT offset stores
    // (reference OffsetManagerCached): one store read per table per
    // run instead of one per lookup; the FS OffsetManager already
    // holds its state in memory, so only jdbc/dynamo wrap
    def cached(s: graft.offset.OffsetStore): graft.offset.OffsetStore =
      if (parsed.offsetsCache) new graft.offset.OffsetStoreCached(s) else s
    val stores = parsed.jdbc match {
      case Some(j) =>
        val db = j.connect()
        ResolvedStores(
          new graft.rdb.BookkeeperJdbc(db),
          if (j.offsets) Some(cached(new graft.rdb.OffsetStoreJdbc(db))) else None,
          if (j.locks)
            Some((t: String, d: LocalDate) => new graft.rdb.TokenLockJdbc(db, s"${t}_$d"))
          else None,
          if (j.metadata) Some(new graft.rdb.MetadataStoreJdbc(db)) else None,
          if (j.journal) Some(new graft.rdb.JournalJdbc(db)) else fsJournal)
      case None =>
        val dyn = parsed.dynamoBookkeeping.map(_())
        val mongo = if (dyn.isEmpty) parsed.mongoBookkeeping.map(_()) else None
        val bk = dyn.map(_._1: BookkeeperStore)
          .orElse(mongo.map(_._1: BookkeeperStore))
          .orElse(parsed.deltaBookkeepingPath
            .map(p => new BookkeeperDelta(sparkFor("bookkeeping.delta.path"), p): BookkeeperStore))
          .orElse(parsed.textBookkeepingPath
            .map(p => new BookkeeperText(sparkFor("bookkeeping.text.path"), p): BookkeeperStore))
          .getOrElse(fallback)
        // locks and the journal follow the bookkeeping backend
        // (reference TokenLockFactory / Journal* discipline: both must
        // live in a store ALL drivers share, which is whatever
        // coordinates bookkeeping)
        ResolvedStores(bk, dyn.flatMap(_._2).map(cached),
          dyn.flatMap(_._3).orElse(mongo.flatMap(_._2)), None,
          dyn.flatMap(_._4).orElse(mongo.flatMap(_._3)).orElse(fsJournal))
    }
    // undercover: decisions read the real history, nothing writes back
    // (the journal drops entirely — an audit row IS a trace)
    if (!parsed.undercover) stores
    else stores.copy(
      bookkeeper = new UndercoverBookkeeper(stores.bookkeeper),
      offsets = stores.offsets.map(new graft.offset.UndercoverOffsetStore(_)),
      metadata = stores.metadata.map(new graft.meta.UndercoverMetadataStore(_)),
      journal = None)
  }

  /**
   * CLI entry (the reference's runner analog):
   * {{{
   * PipelineConfig <config-file> [runDate]                      # normal daily run (catch-up + late-data re-runs)
   * PipelineConfig <config-file> <runDate> --rerun              # force re-run one date
   * PipelineConfig <config-file> --date-from D --date-to D      # historical backfill (fill gaps)
   *     [--force-rerun] [--inverse-order]                       # re-run completed days / newest first
   * PipelineConfig <config-file> [runDate] --new-only|--late-only
   * PipelineConfig <config-file> --tables t1,t2                 # run only the jobs producing these tables
   * PipelineConfig <config-file> [runDate] --undercover         # real run, no bookkeeping trace
   * }}}
   * Prints one status line per task and exits non-zero if anything
   * failed (reference: pramen/core .../core/app/config/RuntimeConfig.scala
   * — `--rerun`, `--date-from/--date-to`, `--mode`).
   */
  /** email.if.no.changes = false suppresses the notification EMAIL
    * when the run did nothing (everything skipped/not-ready and
    * nothing failed) — 365 "0 tasks ran" mails a year bury the one
    * that matters. The FILE report still writes: it is the run's
    * audit record. (reference: EMAIL_IF_NO_CHANGES,
    * PipelineStateImpl.scala:426) */
  private[pipeline] def suppressEmail(parsed: Parsed, info: PipelineInfo,
                                      results: Seq[TaskResult]): Boolean = {
    val ranNothing = results.forall(r =>
      r.isInstanceOf[TaskResult.Skipped] || r.isInstanceOf[TaskResult.NotReady])
    !parsed.emailIfNoChanges && ranNothing && info.status != "failed"
  }

  /** Flags that take a value; every other `--flag` is boolean. */
  private val ValueFlags = Set("--date-from", "--date-to", "--date-parallelism", "--tables")

  /** Restrict a run to the jobs producing `tables` (reference:
    * `pramen.runtime.run.tables` + AppRunner.filterJobs:365): unknown
    * tables fail loudly (a typo must not silently run nothing), lazy
    * jobs stay resolvable, and the selected jobs' declarative
    * dependencies on tables NOT produced by the selection turn PASSIVE
    * — the parent didn't run today by design, so the date-window gate
    * must not hold the selected job hostage; it reads whatever the
    * last full run left in the metastore (the reference passivizes the
    * same way). */
  private[pipeline] def selectTables(jobs: Seq[JobDef], tables: Seq[String]): Seq[JobDef] = {
    val have = jobs.map(_.outputTable).toSet
    val unknown = tables.filterNot(have.contains).sorted
    require(unknown.isEmpty,
      s"--tables selects table(s) no job produces: ${unknown.mkString(", ")}")
    val selected = tables.toSet
    val kept = jobs.filter(j => selected.contains(j.outputTable) || j.isLazy)
    // a selection of only lazy jobs schedules NOTHING (lazy jobs are
    // kept for on-demand resolution, never scheduled) — running
    // "--tables t" where t is lazy must fail, not silently exit 0
    require(kept.exists(!_.isLazy),
      s"--tables selection (${tables.mkString(", ")}) contains no schedulable job " +
        "(lazy jobs materialize on demand when a scheduled job reads them)")
    val producedByKept = kept.filterNot(_.isLazy).map(_.outputTable).toSet
    kept.map { j =>
      // per-TABLE passivation: a mixed dependency [a, x] where the
      // selection produces 'a' but not 'x' must keep gating (and DAG-
      // ordering) on 'a' — passivating the whole block would let the
      // dependent run concurrently with a's producer. Split instead.
      j.copy(dependencies = j.dependencies.flatMap { d =>
        if (d.passive) Seq(d)
        else {
          val (produced, outside) = d.tables.partition(producedByKept.contains)
          Seq(
            if (produced.nonEmpty) Some(d.copy(tables = produced)) else None,
            if (outside.nonEmpty) Some(d.copy(tables = outside, passive = true)) else None
          ).flatten
        }
      })
    }
  }

  /** (boolean flags + value flags, positional args) — value-flag
    * values are NOT positional, boolean flags never swallow the next
    * arg. Exposed for the spec. */
  private[pipeline] def parseArgs(rest: Seq[String]): (Set[String], Map[String, String], Seq[String]) = {
    val bools = scala.collection.mutable.Set.empty[String]
    val values = scala.collection.mutable.Map.empty[String, String]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < rest.length) {
      val a = rest(i)
      if (ValueFlags.contains(a)) {
        require(i + 1 < rest.length, s"$a needs a value")
        values.put(a, rest(i + 1)); i += 2
      } else if (a.startsWith("--")) { bools.add(a); i += 1 }
      else { positional += a; i += 1 }
    }
    (bools.toSet, values.toMap, positional.toSeq)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PipelineConfig <config-file> [runDate yyyy-MM-dd] [flags]")
    val (flags, flagValues, positional) = parseArgs(args.toIndexedSeq.tail)
    // config first (parsing is Spark-free): the pipeline timezone
    // anchors the default run date and shapes the session below
    val configText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))), "UTF-8")
    val parsed = {
      val loaded = parse(configText)
      val scoped = flagValues.get("--tables") match {
        case Some(ts) => loaded.copy(jobs = selectTables(loaded.jobs,
          ts.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
        case None => loaded
      }
      if (flags.contains("--undercover")) scoped.copy(undercover = true) else scoped
    }
    val runDate = positional.headOption.map(LocalDate.parse).getOrElse(
      LocalDate.now(parsed.timezone.getOrElse(java.time.ZoneOffset.UTC)))
    val params: RunParams = (flagValues.get("--date-from"), flagValues.get("--date-to")) match {
      case (Some(from), Some(to)) =>
        RunParams.Historical(LocalDate.parse(from), LocalDate.parse(to),
          mode = if (flags.contains("--force-rerun")) RunMode.ForceRun else RunMode.FillGaps,
          inverseDateOrder = flags.contains("--inverse-order"))
      case (None, None) if flags.contains("--rerun") => RunParams.Rerun(runDate)
      case (None, None) => RunParams.Normal(runDate,
        newOnly = flags.contains("--new-only"), lateOnly = flags.contains("--late-only"))
      case _ => throw new IllegalArgumentException(
        "--date-from and --date-to must be given together")
    }
    if (parsed.logEffectiveConfig) {
      renderEffectiveConfig(parseKv(configText))
        .foreach(l => System.err.println(s"[graft config] $l"))
      // CLI overrides are part of what this run actually uses
      val cliBits = flags.toSeq.sorted ++ flagValues.toSeq.sorted.map { case (k, v) => s"$k $v" }
      if (cliBits.nonEmpty)
        System.err.println(s"[graft config] (cli) ${cliBits.mkString(" ")}")
    }
    val spark = parsed.sparkSessionConf.foldLeft(
      SparkSession.builder()
        .appName(s"graft:${args(0)}")
        .config("spark.sql.session.timeZone",
          parsed.timezone.map(_.getId).getOrElse("UTC"))) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    // the durable journal (bookkeeping.path) is what makes runs see
    // each other: planning/dry-run against an in-memory Bookkeeper
    // would re-run every completed date and never detect late data
    val bookkeeper = new Bookkeeper(parsed.bookkeepingPath)
    if (flags.contains("--dry-run")) {
      val ms = new Metastore(spark)
      parsed.tables.foreach(ms.register)
      // dry-run planning must see the SAME history real runs see,
      // including a config-declared bookkeeping database
      val planBk = resolveStores(parsed, bookkeeper, Some(spark)).bookkeeper
      new Orchestrator(ms, planBk).plan(parsed.jobs, params).foreach { case (job, tasks) =>
        val dates = tasks.map(t => s"${t.infoDate}(${t.reason})").mkString(", ")
        System.err.println(s"[graft dry-run] ${job.name} -> ${job.outputTable}: " +
          (if (tasks.isEmpty) "nothing to run" else dates))
      }
      spark.stop()
      return
    }
    // ONE render/drain fanned out to every configured report channel:
    // notification.html.dir drops the file where an operator picks it
    // up; notification.smtp.* mails the SAME report — failed runs
    // route to failures.to when configured, everything else to
    // email.to. (Two separate notifiers would race on draining the
    // NotificationBuilder's custom entries.)
    val reportNotifier: Seq[PipelineNotificationTarget] =
      if (parsed.htmlReportDir.isEmpty && parsed.smtp.isEmpty) Nil
      else Seq(new FanoutHtmlReportNotifier((info, results) => {
        val file = parsed.htmlReportDir.map(dir => new FileHtmlTransport(dir))
        val smtp = if (suppressEmail(parsed, info, results)) None
        else parsed.smtp.flatMap { s =>
          val rcpts =
            if (info.status == "failed" && parsed.notifyFailureEmails.nonEmpty)
              parsed.notifyFailureEmails
            else parsed.notifyEmails
          if (rcpts.nonEmpty) Some(new SmtpHtmlTransport(s.host, s.port, s.from, rcpts))
          else None
        }
        file.toSeq ++ smtp.toSeq
      }))
    val allNotifiers =
      (new ConsoleNotifier +: reportNotifier) ++ parsed.notificationTargets
    // graceful shutdown: SIGINT/SIGTERM mid-run still emits the
    // report (in-flight tasks marked failed), cancels cluster-side
    // job groups and releases run locks
    val pipelineState = new PipelineState(parsed.name, parsed.environment, runDate,
      allNotifiers, customShutdownHook = parsed.shutdownHook)
    pipelineState.installShutdownHook()
    // user startup hook runs before the first task (a throwing startup
    // hook aborts the run — it was asked to gate it)
    parsed.startupHook.foreach(_.run())
    val results =
      try runParams(spark, parsed, params,
        bookkeeper = bookkeeper,
        notifiers = allNotifiers,
        lockDir = parsed.lockDir,
        dateParallelism = flagValues.get("--date-parallelism").map(_.toInt).getOrElse(1),
        state = Some(pipelineState))
      catch {
        case scala.util.control.NonFatal(e) =>
          // a driver-side crash (bad DAG, dead bookkeeping db) must
          // finalize the state HERE with its real cause — otherwise the
          // JVM-exit hook would report it as an OS signal
          pipelineState.abandon(s"driver failure: ${e.getMessage}")
          throw e
      }
    pipelineState.runCustomShutdownHook()
    spark.stop()
    if (results.exists(_.isInstanceOf[TaskResult.Failed])) sys.exit(1)
  }

  /** Register the declared tables and run under explicit run params
    * (normal/rerun/historical). */
  def runParams(spark: SparkSession, parsed: Parsed, params: RunParams,
                bookkeeper: BookkeeperStore = new Bookkeeper(),
                notifiers: Seq[PipelineNotificationTarget] = Seq.empty,
                lockDir: Option[String] = None,
                dateParallelism: Int = 1,
                state: Option[PipelineState] = None): Seq[TaskResult] = {
    // an empty job list is usually every job disabled by accident —
    // fail loudly unless the config says it's intentional (reference:
    // AppRunner.scala:401, pramen.allow.empty.pipeline)
    require(parsed.jobs.nonEmpty || parsed.allowEmptyPipeline,
      "pipeline has no enabled jobs (set allow.empty.pipeline = true if intentional)")
    parsed.hadoopConf.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v) }
    val stores = resolveStores(parsed, bookkeeper, Some(spark))
    val ms = new Metastore(spark, metadataStore = stores.metadata)
    parsed.tables.foreach(ms.register)
    val allNotifiers = notifiers ++
      stores.journal.map(new JournalNotifier(_, parsed.name)).toSeq
    new Orchestrator(ms, stores.bookkeeper, notifiers = allNotifiers, lockDir = lockDir,
        offsetManager = stores.offsets, lockFactory = stores.lockFactory,
        pipelineName = parsed.name, environment = parsed.environment, state = state,
        enableMultipleJobsPerTable = parsed.multipleJobsPerTable)
      .runWith(parsed.jobs, params, dateParallelism = dateParallelism)
  }
}
