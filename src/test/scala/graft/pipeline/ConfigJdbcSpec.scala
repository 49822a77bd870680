package graft.pipeline

import graft.SparkSpec
import graft.meta.MetastoreReader
import graft.rdb.{FakeDb, GraftDb, OffsetStoreJdbc, SqlExecutor, SqlExecutorFactory, TokenLockJdbc}
import graft.sql.SqlDialect
import org.apache.spark.sql.DataFrame

import java.time.LocalDate

/** Shared in-memory database across "drivers": each config parse/run
  * opens its own executor, but all of them hit this singleton — the
  * role one real RDBMS plays for a fleet of pipeline drivers with no
  * common filesystem. */
object SharedDbFactory extends SqlExecutorFactory {
  private val fake = new java.util.concurrent.atomic.AtomicReference(new FakeDb)
  def reset(): FakeDb = { fake.set(new FakeDb); fake.get }
  def current: FakeDb = fake.get
  override def apply(options: Map[String, String]): SqlExecutor = new SqlExecutor {
    // delegate per-call so reset() between tests takes effect even on
    // executors handed out earlier
    override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int =
      fake.get.executeUpdate(sql, params)
    override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] =
      fake.get.query(sql, params)
  }
}

/** Incremental consumer instantiated by FQCN from config: each run
  * aggregates only the delta past the database-committed offset. */
class DbIncrementalTransformer extends Transformer {
  override def run(r: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    r.getCurrentBatch("ev_in", Some(graft.offset.OffsetInfo("event_id", "integral")))
      .agg(count(lit(1)).as("n"), coalesce(sum("event_id"), lit(0L)).as("id_sum"))
  }
}

/** `bookkeeping.jdbc.*` config keys end-to-end: skip-if-done, run
  * locks and incremental offsets all arbitrated by one config-declared
  * database — nothing but config text and the run date in play. */
class ConfigJdbcSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-06-15")

  private def baseConfig(base: String): String =
    s"""pipeline.name = dbwired
       |bookkeeping.jdbc.executor.factory = graft.pipeline.SharedDbFactory
       |table.ev_in.path = $base/in
       |table.ev_in.partition = none
       |table.ev_out.path = $base/out
       |table.ev_out.partition = none
       |job.1.name = delta
       |job.1.output = ev_out
       |job.1.transformer = graft.pipeline.DbIncrementalTransformer
       |job.1.inputs = ev_in
       |""".stripMargin

  private def seed(base: String, ids: Range, day: String): Unit = {
    val ms = new graft.meta.Metastore(spark)
    ms.register(graft.meta.MetaTable("ev_in", s"$base/in",
      scheme = graft.meta.PartitionScheme.NotPartitioned))
    ms.saveTable("ev_in", LocalDate.parse(day),
      ids.map(i => (i.toLong, s"e$i")).toDF("event_id", "v"))
  }

  test("cross-driver skip-if-done through the config-declared database") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_skip_").toString
    seed(base, 1 to 10, d.toString)
    // two SEPARATE parses = two driver processes; only the database is shared
    val r1 = PipelineConfig.runParams(spark, PipelineConfig.parse(baseConfig(base)),
      RunParams.Normal(d, newOnly = true))
    assert(r1.head.isInstanceOf[TaskResult.Succeeded], r1.head.toString)
    val r2 = PipelineConfig.runParams(spark, PipelineConfig.parse(baseConfig(base)),
      RunParams.Normal(d, newOnly = true))
    assert(r2.head.isInstanceOf[TaskResult.Skipped],
      s"second driver must see the first's bookkeeping row: ${r2.head}")
    // the coordination state genuinely lives in the shared database
    assert(SharedDbFactory.current.statements.exists(_.startsWith("INSERT INTO \"bookkeeping\"")))
  }

  test("a held database lock skips the task; release frees it — from config text alone") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_lock_").toString
    seed(base, 1 to 5, d.toString)
    // a foreign driver holds (ev_out, d) via the same shared database
    val foreignDb = new GraftDb(SqlDialect.Generic, SharedDbFactory(Map.empty))
    foreignDb.initialize()
    val foreign = new TokenLockJdbc(foreignDb, s"ev_out_$d")
    assert(foreign.tryAcquire())
    PipelineConfig.runParams(spark, PipelineConfig.parse(baseConfig(base)),
      RunParams.Normal(d, newOnly = true)).head match {
      case TaskResult.Skipped(_, why) => assert(why.contains("locked"), why)
      case other => fail(s"held db lock must skip the task, got $other")
    }
    foreign.release()
    val r = PipelineConfig.runParams(spark, PipelineConfig.parse(baseConfig(base)),
      RunParams.Normal(d, newOnly = true))
    assert(r.head.isInstanceOf[TaskResult.Succeeded], r.head.toString)
    assert(new TokenLockJdbc(foreignDb, s"ev_out_$d").tryAcquire(),
      "the run must release its own lock on completion")
  }

  test("incremental runs commit offsets to the database; second run reads only the delta") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_off_").toString
    seed(base, 1 to 10, "2024-06-01")
    val p1 = PipelineConfig.parse(baseConfig(base))
    assert(PipelineConfig.runParams(spark, p1,
      RunParams.Normal(LocalDate.parse("2024-06-01"), newOnly = true))
      .head.isInstanceOf[TaskResult.Succeeded])
    seed(base, 11 to 15, "2024-06-02")
    // a fresh parse = a different driver; offsets come from the database
    val p2 = PipelineConfig.parse(baseConfig(base))
    assert(PipelineConfig.runParams(spark, p2,
      RunParams.Normal(LocalDate.parse("2024-06-02"), newOnly = true))
      .head.isInstanceOf[TaskResult.Succeeded])
    val ms = new graft.meta.Metastore(spark)
    ms.register(graft.meta.MetaTable("ev_out", s"$base/out",
      scheme = graft.meta.PartitionScheme.NotPartitioned))
    val rows = ms.getTable("ev_out").select("n", "id_sum").as[(Long, Long)].collect().toSet
    assert(rows.contains((5L, 65L)),
      s"second run must see only the 5 new rows via the db-stored offset: $rows")
    val verifyDb = new GraftDb(SqlDialect.Generic, SharedDbFactory(Map.empty))
    assert(new OffsetStoreJdbc(verifyDb).getLatestOffset("ev_out:ev_in")
      .contains(graft.offset.OffsetValue.IntegralValue(15)),
      "the committed offset must be visible in the shared database")
  }

  test("dialect + table prefix flow from config into the generated SQL") {
    val fake = SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_mysql_").toString
    seed(base, 1 to 3, d.toString)
    val cfg = baseConfig(base) +
      "bookkeeping.jdbc.dialect = mysql\nbookkeeping.jdbc.table.prefix = graft_\n"
    assert(PipelineConfig.runParams(spark, PipelineConfig.parse(cfg),
      RunParams.Normal(d, newOnly = true))
      .head.isInstanceOf[TaskResult.Succeeded])
    assert(fake.statements.exists(s =>
      s.startsWith("INSERT INTO `graft_bookkeeping`") && s.contains("`table_name`")),
      fake.statements.filter(_.startsWith("INSERT")).mkString("\n"))
  }

  test("jdbc store toggles: locks/offsets can be disabled independently") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_toggle_").toString
    val cfg = baseConfig(base) +
      "bookkeeping.jdbc.locks = false\nbookkeeping.jdbc.offsets = false\n"
    val parsed = PipelineConfig.parse(cfg)
    val j = parsed.jdbc.getOrElse(fail("bookkeeping.jdbc.* must parse to a JdbcBookkeeping"))
    assert(!j.locks && !j.offsets)
    // with offsets off, a held lock no longer skips (locks off too):
    // the task runs even while a foreign lock row exists
    val foreignDb = new GraftDb(SqlDialect.Generic, SharedDbFactory(Map.empty))
    foreignDb.initialize()
    assert(new TokenLockJdbc(foreignDb, s"ev_out_$d").tryAcquire())
    seed(base, 1 to 3, d.toString)
    assert(PipelineConfig.runParams(spark, parsed,
      RunParams.Normal(d, newOnly = true)).head.isInstanceOf[TaskResult.Succeeded],
      "locks=false must ignore database lock rows")
  }

  test("bookkeeping.jdbc.metadata selects the database metadata store; false keeps files") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_meta_").toString
    val withDb = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base)), new Bookkeeper())
    assert(withDb.metadata.isDefined, "jdbc config defaults metadata to the database")
    // the resolved store is live: a round-trip lands in the shared db
    withDb.metadata.get.set("ev_out", d, "lineage", "run-1")
    assert(SharedDbFactory.current.statements.exists(_.startsWith("INSERT INTO \"metadata\"")))
    val secondDriver = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base)), new Bookkeeper())
    assert(secondDriver.metadata.get.get("ev_out", d, "lineage").contains("run-1"),
      "annotations must be visible across drivers through the database")
    val fsOnly = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base) + "bookkeeping.jdbc.metadata = false\n"),
      new Bookkeeper())
    assert(fsOnly.metadata.isEmpty, "metadata=false keeps the _graft/meta_kv file layout")
  }

  test("parse-time validation: typo'd factory FQCN and unknown dialect fail the config load") {
    val e1 = intercept[IllegalArgumentException](PipelineConfig.parse(
      "bookkeeping.jdbc.executor.factory = graft.pipeline.NoSuchFactory\n"))
    assert(e1.getMessage.contains("bookkeeping.jdbc.executor.factory"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](PipelineConfig.parse(
      "bookkeeping.jdbc.url = jdbc:h2:mem:x\nbookkeeping.jdbc.dialect = nope\n"))
    assert(e2.getMessage.contains("nope"), e2.getMessage)
  }

  test("bookkeeping.jdbc.fallback.urls ride the S16 failover pool") {
    // no JDBC driver in this env, so every open fails — what the spec
    // pins is that BOTH urls are attempted, bounded by retries, and
    // the exhaustion error names each with its failure
    val parsed = PipelineConfig.parse(
      """pipeline.name = ha
        |bookkeeping.jdbc.url = jdbc:dead:primary
        |bookkeeping.jdbc.fallback.urls = jdbc:dead:standby
        |bookkeeping.jdbc.retries = 2
        |table.t.path = /tmp/ha_t
        |job.1.transformer = identity
        |job.1.output = t
        |job.1.option.input.table = t
        |""".stripMargin)
    val e = intercept[IllegalStateException](parsed.jdbc.get.makeExecutor())
    assert(e.getMessage.contains("jdbc:dead:primary"), e.getMessage)
    assert(e.getMessage.contains("jdbc:dead:standby"), e.getMessage)
    assert(e.getMessage.contains("2 attempt(s)"), e.getMessage)
  }

  test("jdbc offsets resolve through the per-run read-through cache; opt-out restores raw") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_ocache_").toString
    val cachedStores = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base)), new Bookkeeper())
    assert(cachedStores.offsets.exists(_.isInstanceOf[graft.offset.OffsetStoreCached]),
      "jdbc offsets must default to the cached wrapper")
    // one store read per table per run: repeated lookups hit the db once
    val before = SharedDbFactory.current.prepared.size
    val os = cachedStores.offsets.get
    (1 to 20).foreach(_ => os.getLatestOffset("ev_in"))
    val readsAfter = SharedDbFactory.current.prepared.count { case (sql, _) =>
      sql.startsWith("SELECT") && sql.contains("\"offsets\"")
    }
    assert(readsAfter == 1, s"20 lookups must cost 1 offsets read, got $readsAfter " +
      s"(prepared grew by ${SharedDbFactory.current.prepared.size - before})")
    val raw = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base) + "bookkeeping.offsets.cache = false\n"),
      new Bookkeeper())
    assert(raw.offsets.exists(_.isInstanceOf[graft.rdb.OffsetStoreJdbc]),
      "cache=false must resolve the raw store")
  }

  test("task journal lands in the config-declared database; visible across drivers in order") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_journal_").toString
    seed(base, 1 to 5, d.toString)
    // run 1 succeeds, run 2 skips (skip-if-done) — BOTH events must
    // journal: the audit log keeps every completion, not latest state
    PipelineConfig.runParams(spark, PipelineConfig.parse(baseConfig(base)),
      RunParams.Normal(d, newOnly = true))
    PipelineConfig.runParams(spark, PipelineConfig.parse(baseConfig(base)),
      RunParams.Normal(d, newOnly = true))
    assert(SharedDbFactory.current.statements.exists(_.startsWith("INSERT INTO \"journal\"")),
      "journal rows must land in the shared database")
    // a THIRD driver (fresh parse/resolve) reads the fleet's history
    val stores = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base)), new Bookkeeper())
    val events = stores.journal.getOrElse(fail("jdbc config must default the journal on")).all
    assert(events.map(_.status) == Seq("succeeded", "skipped"), events.toString)
    // the aggregating transformer writes ONE row — records is the
    // OUTPUT count, same number the bookkeeper records
    assert(events.head.pipeline == "dbwired" && events.head.records == 1L)
  }

  test("journal precedence: jdbc journal=false falls back to journal.path; undercover drops it") {
    SharedDbFactory.reset()
    val base = java.nio.file.Files.createTempDirectory("cfg_jdbc_jprec_").toString
    // jdbc journal off + FS path set -> FS journal
    val fsBacked = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base) +
        s"bookkeeping.jdbc.journal = false\njournal.path = $base/jnl\n"),
      new Bookkeeper())
    assert(fsBacked.journal.exists(_.isInstanceOf[Journal]),
      "journal=false must fall back to the FS journal when journal.path is set")
    // jdbc journal off, no FS path -> none
    val none = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base) + "bookkeeping.jdbc.journal = false\n"),
      new Bookkeeper())
    assert(none.journal.isEmpty)
    // journal.path WITHOUT jdbc -> FS journal (non-database pipelines
    // get the audit log too)
    val noDb = PipelineConfig.resolveStores(
      PipelineConfig.parse(
        s"""pipeline.name = fsj
           |journal.path = $base/jnl2
           |table.t.path = $base/t
           |job.1.transformer = identity
           |job.1.output = t
           |job.1.option.input.table = t
           |""".stripMargin), new Bookkeeper())
    assert(noDb.journal.exists(_.isInstanceOf[Journal]))
    // undercover: no journal trace at all, even with jdbc configured
    val uc = PipelineConfig.resolveStores(
      PipelineConfig.parse(baseConfig(base) + "undercover = true\n"),
      new Bookkeeper())
    assert(uc.journal.isEmpty, "undercover runs must not journal")
  }
}
