package graft.rdb

import graft.offset.OffsetValue
import graft.pipeline.RunRecord
import graft.sql.SqlDialect
import org.scalatest.funsuite.AnyFunSuite

import java.time.LocalDate

/** In-memory executor interpreting exactly the statement shapes the
  * DAOs generate (Generic dialect, double-quoted identifiers) — no
  * JDBC driver ships in this environment, so behavior specs run
  * against this and SQL-text specs pin what a real database would
  * receive (the same driverless strategy as the S2 JDBC source). */
final class FakeDb extends SqlExecutor {
  val statements = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Raw (sql, params) pairs as handed to the seam — pins that values
    * travel as bind parameters, not spliced literals. */
  val prepared = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Any])]
  private val tables = scala.collection.mutable.Map.empty[String, Vector[Map[String, String]]]
  private val pks = scala.collection.mutable.Map.empty[String, Seq[String]]

  private def ws(s: String) = s.replaceAll("\\s+", " ").trim
  // strips Generic double quotes and MySQL backticks
  private def unq(s: String) = s.replaceAll("^[\"`]|[\"`]$", "")

  /** Render `?` placeholders as literals so the text-interpreting fake
    * can parse the statement (quote doubling matches unlit below). */
  private def bound(sql: String, params: Seq[Any]): String = {
    val it = params.iterator
    val sb = new StringBuilder; var inQ = false
    sql.foreach {
      case '\'' => inQ = !inQ; sb += '\''
      case '?' if !inQ && it.hasNext => sb ++= (it.next() match {
        case s: String => "'" + s.replace("'", "''") + "'"
        case other => other.toString
      })
      case c => sb += c
    }
    require(!it.hasNext, s"more params than placeholders: $sql")
    sb.toString
  }

  override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int = {
    prepared += ((sql, params))
    doUpdate(bound(sql, params))
  }

  private def doUpdate(sql: String): Int = {
    statements += sql
    val s = ws(sql)
    if (s.startsWith("CREATE TABLE IF NOT EXISTS")) {
      val name = unq(s.stripPrefix("CREATE TABLE IF NOT EXISTS ").takeWhile(_ != ' '))
      if (!tables.contains(name)) {
        tables(name) = Vector.empty
        pks(name) = "PRIMARY KEY \\(([^)]*)\\)".r.findFirstMatchIn(s)
          .map(_.group(1).split(",").map(c => unq(c.trim)).toSeq).getOrElse(Nil)
      }
      0
    } else if (s.startsWith("INSERT INTO")) {
      val m = "INSERT INTO (\\S+) \\(([^)]*)\\) VALUES \\((.*)\\)".r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"unparsed INSERT: $s"))
      val name = unq(m.group(1))
      val cols = m.group(2).split(",").map(c => unq(c.trim))
      val vals = splitValues(m.group(3))
      val row = cols.zip(vals).toMap
      val pk = pks.getOrElse(name, Nil)
      if (pk.nonEmpty && tables(name).exists(r => pk.forall(c => r.get(c) == row.get(c))))
        throw new RuntimeException(s"duplicate key on $name (${pk.mkString(",")})")
      tables(name) = tables(name) :+ row
      1
    } else if (s.startsWith("DELETE FROM")) {
      val m = "DELETE FROM (\\S+)(?: WHERE (.*))?$".r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"unparsed DELETE: $s"))
      val name = unq(m.group(1))
      val pred = predicate(Option(m.group(2)))
      val (gone, kept) = tables.getOrElse(name, Vector.empty).partition(pred)
      tables(name) = kept
      gone.size
    } else if (s.startsWith("UPDATE")) {
      val m = "UPDATE (\\S+) SET (\\w+) = (\\S+)".r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"unparsed UPDATE: $s"))
      val name = unq(m.group(1))
      tables(name) = tables(name).map(_.updated(m.group(2), m.group(3)))
      tables(name).size
    } else if (s.startsWith("ALTER TABLE")) {
      0 // column retypes (migrations) don't move data in the fake
    } else sys.error(s"unparsed statement: $s")
  }

  override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] = {
    prepared += ((sql, params))
    val bsql = bound(sql, params)
    statements += bsql
    val s = ws(bsql)
    val m = "SELECT (.*) FROM (\\S+)(?: WHERE (.+?))?(?: ORDER BY (.+?))?(?: LIMIT (\\d+))?$".r
      .findFirstMatchIn(s).getOrElse(sys.error(s"unparsed SELECT: $s"))
    val name = unq(m.group(2))
    var rows = tables.getOrElse(name, Vector.empty).filter(predicate(Option(m.group(3))))
    // ORDER BY: single column + DESC (bookkeeper latest-record) or a
    // comma-list ascending (journal completion order). Numeric-looking
    // values sort numerically — a BIGINT column must not order "9"
    // after "10" just because the fake stores strings.
    Option(m.group(4)).foreach { ob =>
      val desc = ob.endsWith(" DESC")
      val cols = ob.stripSuffix(" DESC").split(",").map(c => unq(c.trim)).toSeq
      def key(v: String): (Int, Long, String) =
        try (0, v.toLong, "") catch { case _: NumberFormatException => (1, 0L, v) }
      import scala.math.Ordering.Implicits._
      rows = rows.sortBy(r => cols.map(c => key(r(c))))
      if (desc) rows = rows.reverse
    }
    Option(m.group(5)).foreach(n => rows = rows.take(n.toInt))
    val proj = m.group(1).trim
    if (proj == "*") rows
    else if (proj.startsWith("MAX(")) {
      val mm = "MAX\\((\\S+)\\) AS (\\w+)".r.findFirstMatchIn(proj).get
      val col = unq(mm.group(1))
      Seq(Map(mm.group(2) -> rows.map(_(col)).maxOption.orNull))
    } else rows.map(r => proj.split(",").map(c => unq(c.trim)).map(c => c -> r(c)).toMap)
  }

  /** `a = 'v' AND b <= 'w' AND c = 123` conjunctions, the only WHERE
    * shape the DAOs emit. */
  private def predicate(where: Option[String]): Map[String, String] => Boolean =
    where match {
      case None => _ => true
      case Some(w) =>
        val conds = w.split(" AND ").map { c =>
          val m = "(\\S+) (<=|>=|=) (.*)".r.findFirstMatchIn(c.trim)
            .getOrElse(sys.error(s"unparsed condition: $c"))
          (unq(m.group(1)), m.group(2), unlit(m.group(3)))
        }
        // numeric-looking operands compare numerically ("999" < "1000"
        // — a BIGINT column must not compare lexicographically just
        // because the fake stores strings); ISO dates fall through to
        // string compare, where lexicographic == chronological
        def cmp(a: String, b: String): Int =
          try java.lang.Long.compare(a.toLong, b.toLong)
          catch { case _: NumberFormatException => a.compareTo(b) }
        row => conds.forall {
          case (col, "=", v) => row.get(col).contains(v)
          case (col, "<=", v) => row.get(col).exists(cmp(_, v) <= 0)
          case (col, ">=", v) => row.get(col).exists(cmp(_, v) >= 0)
          case other => sys.error(s"unhandled op: $other")
        }
    }

  private def unlit(v: String): String =
    if (v.startsWith("'")) v.stripPrefix("'").stripSuffix("'").replace("''", "'") else v

  private def splitValues(s: String): Seq[String] = {
    // split on commas outside quotes
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = new StringBuilder; var inQ = false
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case ',' if !inQ => out += cur.toString.trim; cur = new StringBuilder
      case c => cur += c
    }
    out += cur.toString.trim
    out.toSeq.map(unlit)
  }
}

class JdbcStoresSpec extends AnyFunSuite {
  private val d = LocalDate.parse("2024-06-15")
  private def freshDb(): (GraftDb, FakeDb) = {
    val fake = new FakeDb
    val db = new GraftDb(SqlDialect.Generic, fake)
    db.initialize()
    (db, fake)
  }

  test("initialize creates the six tables and stamps the schema version; re-init is a no-op") {
    val (db, fake) = freshDb()
    assert(db.schemaVersion() == GraftDb.CurrentVersion)
    val creates = fake.statements.count(_.startsWith("CREATE TABLE IF NOT EXISTS"))
    assert(creates == 6)
    db.initialize() // idempotent
    assert(db.schemaVersion() == GraftDb.CurrentVersion)
    assert(fake.statements.count(_.startsWith("INSERT INTO \"schema_version\"")) == 1)
  }

  test("bookkeeper: record/get/isAlreadyRan/latestSuccess round-trip, last write wins") {
    val (db, _) = freshDb()
    val bk = new BookkeeperJdbc(db)
    bk.record(RunRecord("sales", d, 100L, "failed", 1L, 2L))
    assert(!bk.isAlreadyRan("sales", d))
    bk.record(RunRecord("sales", d, 120L, "succeeded", 3L, 4L)) // upsert
    assert(bk.isAlreadyRan("sales", d))
    assert(bk.get("sales", d).map(_.recordCount).contains(120L))
    bk.record(RunRecord("sales", d.minusDays(1), 80L, "succeeded", 1L, 2L))
    bk.record(RunRecord("sales", d.plusDays(1), 90L, "skipped", 1L, 2L))
    assert(bk.latestSuccess("sales").contains(d)) // skipped is not success
    assert(bk.latestSuccessRecord("sales", d.minusDays(1)).map(_.recordCount).contains(80L))
    assert(bk.all.size == 3)
    assert(bk.get("nope", d).isEmpty && bk.latestSuccess("nope").isEmpty)
  }

  test("bookkeeper generates dialect-quoted SQL with ? placeholders; values ride params") {
    val fake = new FakeDb
    val db = new GraftDb(SqlDialect.MySql, fake)
    new BookkeeperJdbc(db).record(RunRecord("o'brien \\ co", d, 1L, "succeeded", 1L, 2L))
    val (insertSql, insertParams) = fake.prepared.find(_._1.startsWith("INSERT")).get
    assert(insertSql.contains("`bookkeeping`") && insertSql.contains("`table_name`"), insertSql)
    assert(insertSql.contains("VALUES (?, ?, ?, ?, ?, ?)"),
      s"values must be bind parameters, not spliced literals: $insertSql")
    assert(insertParams.head == "o'brien \\ co",
      s"quote/backslash values must reach the seam verbatim: $insertParams")
    assert(!insertSql.contains("o'brien"), "no value text in the SQL")
    // round-trips intact through the store
    assert(new BookkeeperJdbc(db).get("o'brien \\ co", d).map(_.recordCount).contains(1L))
  }

  test("string offsets with quotes and backslashes round-trip as bind parameters") {
    val (db, fake) = freshDb()
    val os = new OffsetStoreJdbc(db, nowMs = () => 1L)
    val nasty = "id-'quote'\\back\\slash"
    os.commit("t", OffsetValue.StringValue(nasty))
    assert(os.getLatestOffset("t").contains(OffsetValue.StringValue(nasty)))
    // advance: the CAS DELETE carries the old nasty value as a param too
    os.commit("t", OffsetValue.StringValue(nasty + "z"))
    assert(os.getLatestOffset("t").contains(OffsetValue.StringValue(nasty + "z")))
    val valueTexts = fake.prepared.map(_._1)
    assert(!valueTexts.exists(_.contains("back\\slash")),
      "data-derived offset values must never appear in SQL text")
  }

  test("offsets: commit is monotonic, type round-trips") {
    val (db, _) = freshDb()
    val os = new OffsetStoreJdbc(db, nowMs = () => 1000L)
    assert(os.getLatestOffset("ev").isEmpty)
    os.commit("ev", OffsetValue.IntegralValue(100))
    assert(os.getLatestOffset("ev").contains(OffsetValue.IntegralValue(100)))
    os.commit("ev", OffsetValue.IntegralValue(50)) // below stored: ignored
    assert(os.getLatestOffset("ev").contains(OffsetValue.IntegralValue(100)))
    os.commit("ev", OffsetValue.IntegralValue(200))
    assert(os.getLatestOffset("ev").contains(OffsetValue.IntegralValue(200)))
  }

  test("offset commit CAS: a racing higher commit is never moved backwards") {
    val (db, _) = freshDb()
    val os = new OffsetStoreJdbc(db, nowMs = () => 1L)
    os.commit("ev", OffsetValue.IntegralValue(10))
    // interpose: by the time OUR CAS delete (predicated on value 10)
    // runs, another driver has already advanced the offset to 20 —
    // the plain delete+insert would regress it to 15
    val racing = new SqlExecutor {
      var armed = true
      override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int = {
        if (armed && sql.startsWith("DELETE FROM \"offsets\"")) {
          armed = false
          new OffsetStoreJdbc(db, nowMs = () => 2L).commit("ev", OffsetValue.IntegralValue(20))
        }
        db.executor.executeUpdate(sql, params)
      }
      override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] =
        db.executor.query(sql, params)
    }
    new OffsetStoreJdbc(new GraftDb(db.dialect, racing), nowMs = () => 3L)
      .commit("ev", OffsetValue.IntegralValue(15))
    assert(new OffsetStoreJdbc(db).getLatestOffset("ev")
      .contains(OffsetValue.IntegralValue(20)),
      "a lost CAS race must re-read and keep the higher offset")
  }

  test("lock: primary-key INSERT arbitration — second acquirer loses, release frees") {
    val (db, _) = freshDb()
    val a = new TokenLockJdbc(db, "sales_2024-06-15")
    val b = new TokenLockJdbc(db, "sales_2024-06-15")
    assert(a.tryAcquire())
    assert(!b.tryAcquire(), "held lock must not double-acquire")
    assert(new TokenLockJdbc(db, "other_token").tryAcquire(), "unrelated tokens independent")
    a.release()
    assert(b.tryAcquire(), "released lock must be acquirable")
    a.release() // a no longer owns it: must NOT free b's lock
    assert(!new TokenLockJdbc(db, "sales_2024-06-15").tryAcquire(),
      "owner-predicated release must not free another holder's lock")
  }

  test("lock: stale locks are broken with a predicated delete") {
    val (db, _) = freshDb()
    var now = 0L
    val dead = new TokenLockJdbc(db, "t", staleMs = 1000L, nowMs = () => now)
    assert(dead.tryAcquire())
    val thief = new TokenLockJdbc(db, "t", staleMs = 1000L, nowMs = () => now)
    now = 500L
    assert(!thief.tryAcquire(), "fresh lock must not be broken")
    now = 2000L
    assert(thief.tryAcquire(), "stale lock must be broken and re-acquired")
    val third = new TokenLockJdbc(db, "t", staleMs = 1000L, nowMs = () => now)
    assert(!third.tryAcquire(), "freshly re-acquired lock is held again")
  }

  test("orchestrator runs against the JDBC bookkeeper: skip-if-done crosses drivers") {
    import graft.SparkSpec
    val spark = SparkSpec.session
    import spark.implicits._
    val (db, _) = freshDb()
    val ms = new graft.meta.Metastore(spark)
    val base = java.nio.file.Files.createTempDirectory("jdbc_bk_").toString
    ms.register(graft.meta.MetaTable("t1", s"$base/t1"))
    var runs = 0
    val tf = new graft.pipeline.Transformer {
      def run(r: graft.meta.MetastoreReader, dd: LocalDate,
              o: Map[String, String]): org.apache.spark.sql.DataFrame = {
        runs += 1; Seq((1L, "x")).toDF("id", "v")
      }
    }
    // driver 1 runs the task; driver 2 (separate Orchestrator, SHARED
    // database) sees it done and skips — the coordination the FS store
    // can only give co-mounted drivers
    val r1 = new graft.pipeline.Orchestrator(ms, bookkeeper = new BookkeeperJdbc(db))
      .run(Seq(graft.pipeline.JobDef("j", "t1", tf)), d)
    assert(r1.head.isInstanceOf[graft.pipeline.TaskResult.Succeeded])
    val r2 = new graft.pipeline.Orchestrator(ms, bookkeeper = new BookkeeperJdbc(db))
      .run(Seq(graft.pipeline.JobDef("j", "t1", tf)), d)
    assert(r2.head.isInstanceOf[graft.pipeline.TaskResult.Skipped], r2.head.toString)
    assert(runs == 1, s"second driver must skip the done slot, ran $runs times")
  }

  test("orchestrator lockFactory: a held database lock skips the task") {
    import graft.SparkSpec
    val spark = SparkSpec.session
    import spark.implicits._
    val (db, _) = freshDb()
    val ms = new graft.meta.Metastore(spark)
    val base = java.nio.file.Files.createTempDirectory("jdbc_lock_").toString
    ms.register(graft.meta.MetaTable("lt", s"$base/lt"))
    val tf = new graft.pipeline.Transformer {
      def run(r: graft.meta.MetastoreReader, dd: LocalDate,
              o: Map[String, String]): org.apache.spark.sql.DataFrame =
        Seq((1L, "x")).toDF("id", "v")
    }
    // another driver holds (lt, d) through the shared database
    val foreign = new TokenLockJdbc(db, s"lt_$d")
    assert(foreign.tryAcquire())
    val orch = new graft.pipeline.Orchestrator(ms,
      lockFactory = Some((t, dd) => new TokenLockJdbc(db, s"${t}_$dd")))
    orch.run(Seq(graft.pipeline.JobDef("lj", "lt", tf)), d).head match {
      case graft.pipeline.TaskResult.Skipped(_, why) => assert(why.contains("locked"), why)
      case other => fail(s"held db lock must skip the task, got $other")
    }
    // released -> the task runs and its own lock is released after
    foreign.release()
    assert(orch.run(Seq(graft.pipeline.JobDef("lj", "lt", tf)), d)
      .head.isInstanceOf[graft.pipeline.TaskResult.Succeeded])
    assert(new TokenLockJdbc(db, s"lt_$d").tryAcquire(),
      "task completion must release its lock")
  }

  test("migrations replay from the stored version exactly once") {
    // a v1 database upgrading to a v2 schema must run migrations(0)
    val fake = new FakeDb
    class V1Db(ex: SqlExecutor) extends GraftDb(SqlDialect.Generic, ex) {
      override protected def currentVersion: Int = 1
      override protected def migrations: Seq[Seq[String]] = Seq.empty
    }
    class V2Db(ex: SqlExecutor) extends GraftDb(SqlDialect.Generic, ex) {
      override protected def currentVersion: Int = 2
      override protected def migrations: Seq[Seq[String]] =
        Seq(Seq("UPDATE \"bookkeeping\" SET status = 'migrated_v2'"))
    }
    new V1Db(fake).initialize() // stamps v1
    assert(new V1Db(fake).schemaVersion() == 1)
    val v2 = new V2Db(fake)
    v2.initialize()
    assert(fake.statements.count(_.contains("migrated_v2")) == 1,
      "the v1->v2 migration step must run (off-by-one would skip it)")
    assert(v2.schemaVersion() == 2)
    v2.initialize() // idempotent: already at v2, no replay
    assert(fake.statements.count(_.contains("migrated_v2")) == 1)
  }

  test("a v1 database upgrading through the REAL migrations widens offset_value") {
    // the production v1 -> v2 step: offsets.offset_value was
    // VARCHAR(255), too small for a Kafka per-partition vector at
    // ~18+ partitions — strict dialects rejected the commit, MySQL
    // silently truncated it into unparseable JSON
    val fake = new FakeDb
    class V1Db(ex: SqlExecutor) extends GraftDb(SqlDialect.Generic, ex) {
      override protected def currentVersion: Int = 1
      override protected def migrations: Seq[Seq[String]] = Seq.empty
    }
    new V1Db(fake).initialize()
    val db = new GraftDb(SqlDialect.Generic, fake)
    db.initialize()
    assert(db.schemaVersion() == GraftDb.CurrentVersion)
    assert(fake.statements.exists(s =>
      s.startsWith("ALTER TABLE \"offsets\"") && s.contains("VARCHAR(32000)")),
      s"v2 migration must widen offset_value: ${fake.statements.filter(_.startsWith("ALTER"))}")
    // fresh DDL carries the wide type directly
    val fresh = new FakeDb
    new GraftDb(SqlDialect.Generic, fresh).initialize()
    assert(fresh.statements.exists(s =>
      s.contains("\"offsets\"") && s.contains("VARCHAR(32000)")))
    // a 20-partition Kafka vector (> 255 chars) round-trips
    val os = new OffsetStoreJdbc(db, nowMs = () => 1L)
    val wide = OffsetValue.KafkaValue((0 until 20).map(p => p -> (1234567890123L + p)).toMap)
    assert(wide.asString.length > 255)
    os.commit("ktopic", wide)
    assert(os.getLatestOffset("ktopic").contains(wide))
  }

  test("bookkeeper record survives a lost delete+insert race (retry wins)") {
    val (db, _) = freshDb()
    val bk = new BookkeeperJdbc(db)
    // simulate the interleaving: another driver's row lands between
    // our DELETE and INSERT -> first INSERT hits the primary key
    bk.record(RunRecord("sales", d, 1L, "succeeded", 1L, 2L))
    val racing = new SqlExecutor {
      var armed = true
      override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int =
        if (armed && sql.startsWith("INSERT INTO \"bookkeeping\"")) {
          armed = false
          // the other driver re-inserted first: duplicate key
          db.executor.executeUpdate(sql, params)
          throw new RuntimeException("duplicate key on bookkeeping")
        } else db.executor.executeUpdate(sql, params)
      override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] =
        db.executor.query(sql, params)
    }
    new BookkeeperJdbc(new GraftDb(db.dialect, racing))
      .record(RunRecord("sales", d, 99L, "succeeded", 3L, 4L))
    assert(new BookkeeperJdbc(db).get("sales", d).map(_.recordCount).contains(99L),
      "retry must land the newer record instead of failing the task")
  }

  test("a persistent INSERT failure cannot LOSE the committed offset (review finding)") {
    // the predicated DELETE succeeds, then the INSERT keeps failing for
    // a non-duplicate reason (value too long, constraint). The old code
    // looped with the slot now empty and threw 'lost 8 CAS races' —
    // with the previously committed row GONE, so the next incremental
    // run re-ingested the whole source. Now: the old value is restored
    // and the REAL error surfaces.
    val (db, _) = freshDb()
    val os0 = new OffsetStoreJdbc(db, nowMs = () => 1L)
    os0.commit("t", OffsetValue.IntegralValue(100))
    var failInserts = false
    val flaky = new SqlExecutor {
      override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int =
        if (failInserts && sql.startsWith("INSERT INTO \"offsets\"") &&
            params.exists(_ == "200"))
          throw new RuntimeException("value too long for column offset_value")
        else db.executor.executeUpdate(sql, params)
      override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] =
        db.executor.query(sql, params)
    }
    val os = new OffsetStoreJdbc(new GraftDb(db.dialect, flaky), nowMs = () => 2L)
    failInserts = true
    val e = intercept[IllegalStateException](os.commit("t", OffsetValue.IntegralValue(200)))
    assert(e.getMessage.contains("persistent failure") && e.getMessage.contains("RESTORED"),
      s"must name the real failure and the restore: ${e.getMessage}")
    assert(String.valueOf(e.getCause.getMessage).contains("value too long"))
    // the previously committed offset is still there
    assert(os0.getLatestOffset("t").contains(OffsetValue.IntegralValue(100)),
      "the committed offset must survive a persistent insert failure")
  }

  test("lock acquire distinguishes a held lock from a database outage") {
    val (db, _) = freshDb()
    // outage: INSERT and the probe both fail -> must THROW, because a
    // false would report the task "locked by another pipeline" and
    // silently skip the whole fleet
    val dead = new SqlExecutor {
      override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int =
        throw new RuntimeException("connection refused")
      override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] =
        throw new RuntimeException("connection refused")
    }
    val e = intercept[RuntimeException] {
      new TokenLockJdbc(new GraftDb(SqlDialect.Generic, dead), "t").tryAcquire()
    }
    assert(e.getMessage.contains("connection refused"))
    // held: INSERT fails but the row is visible -> false, no throw
    assert(new TokenLockJdbc(db, "held").tryAcquire())
    assert(!new TokenLockJdbc(db, "held").tryAcquire())
  }

  test("incremental transformer runs against the JDBC offset store (delta-only reads)") {
    import graft.SparkSpec
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (db, _) = freshDb()
    val ms = new graft.meta.Metastore(spark)
    val base = java.nio.file.Files.createTempDirectory("jdbc_off_").toString
    ms.register(graft.meta.MetaTable("ev_in", s"$base/in",
      scheme = graft.meta.PartitionScheme.NotPartitioned))
    ms.register(graft.meta.MetaTable("ev_out", s"$base/out",
      scheme = graft.meta.PartitionScheme.NotPartitioned))
    val offInfo = graft.offset.OffsetInfo("event_id", "integral")
    val tf = new graft.pipeline.Transformer {
      def run(r: graft.meta.MetastoreReader, dd: LocalDate,
              o: Map[String, String]): org.apache.spark.sql.DataFrame =
        r.getCurrentBatch("ev_in", Some(offInfo))
          .agg(count(lit(1)).as("n"), coalesce(sum("event_id"), lit(0L)).as("id_sum"))
    }
    // offsets live in the shared DATABASE: a second orchestrator (new
    // OffsetStoreJdbc over the same db) sees the first run's offset
    def runOnce(day: String) = new graft.pipeline.Orchestrator(ms,
        offsetManager = Some(new OffsetStoreJdbc(db)))
      .runWith(Seq(graft.pipeline.JobDef("delta", "ev_out", tf, Seq("ev_in"))),
        graft.pipeline.RunParams.Rerun(LocalDate.parse(day)))

    ms.saveTable("ev_in", LocalDate.parse("2024-06-01"),
      (1L to 10L).map(i => (i, s"e$i")).toDF("event_id", "v"))
    assert(runOnce("2024-06-01").head.isInstanceOf[graft.pipeline.TaskResult.Succeeded])
    ms.saveTable("ev_in", LocalDate.parse("2024-06-02"),
      (11L to 15L).map(i => (i, s"e$i")).toDF("event_id", "v"))
    assert(runOnce("2024-06-02").head.isInstanceOf[graft.pipeline.TaskResult.Succeeded])
    val rows = ms.getTable("ev_out").select("n", "id_sum")
      .as[(Long, Long)].collect().toSet
    assert(rows.contains((5L, 65L)),
      s"second run must see only the 5 new rows via the db-stored offset: $rows")
    // offset key contract: consumer (= job outputTable) ":" input table
    assert(new OffsetStoreJdbc(db).getLatestOffset("ev_out:ev_in")
      .contains(graft.offset.OffsetValue.IntegralValue(15)),
      "committed offset must be visible in the shared database under consumer:input")
  }

  test("offset commit distinguishes a database outage from CAS contention") {
    val (db, _) = freshDb()
    new OffsetStoreJdbc(db, nowMs = () => 1L).commit("ev", OffsetValue.IntegralValue(10))
    // flaky-then-dead: reads work long enough to enter the CAS loop,
    // then the database dies at the INSERT and stays dead — the error
    // must say "unreachable", not blame phantom CAS races
    val flakyThenDead = new SqlExecutor {
      @volatile var dead = false
      override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int = {
        if (sql.startsWith("INSERT INTO \"offsets\"")) dead = true
        if (dead) throw new RuntimeException("connection refused")
        db.executor.executeUpdate(sql, params)
      }
      override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] =
        if (dead) throw new RuntimeException("connection refused")
        else db.executor.query(sql, params)
    }
    val e = intercept[IllegalStateException] {
      new OffsetStoreJdbc(new GraftDb(db.dialect, flakyThenDead), nowMs = () => 2L)
        .commit("ev", OffsetValue.IntegralValue(20))
    }
    assert(e.getMessage.contains("database unreachable"), e.getMessage)
    assert(!e.getMessage.contains("CAS races"), e.getMessage)
    assert(e.getCause != null && e.getCause.getMessage.contains("connection refused"))
  }

  test("lock acquire retries once when the holder releases between INSERT failure and probe") {
    val (db, _) = freshDb()
    // interleaving: our INSERT loses to a holder who releases before
    // our verification probe runs — the probe finds no row, and
    // without the retry the benign contention surfaces as a hard error
    val vanishing = new SqlExecutor {
      var state = 0 // 0: fail first insert; 1: probe sees empty; 2: retry succeeds
      override def executeUpdate(sql: String, params: Seq[Any] = Nil): Int =
        if (sql.startsWith("INSERT INTO \"locks\"") && state == 0) {
          state = 1
          throw new RuntimeException("duplicate key on locks")
        } else db.executor.executeUpdate(sql, params)
      override def query(sql: String, params: Seq[Any] = Nil): Seq[Map[String, String]] = {
        val rows = db.executor.query(sql, params)
        if (state == 1) { state = 2; Seq.empty } // holder vanished
        else rows
      }
    }
    assert(new TokenLockJdbc(new GraftDb(db.dialect, vanishing), "t").tryAcquire(),
      "released-between-failure-and-probe must acquire on the retry, not rethrow")
    // and the token is genuinely held afterwards
    assert(!new TokenLockJdbc(db, "t").tryAcquire())
  }

  test("ConnectionExecutor binds params through PreparedStatement (never string concat)") {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    val preparedSql = scala.collection.mutable.ArrayBuffer.empty[String]
    val bindings = scala.collection.mutable.ArrayBuffer.empty[(Int, Any)]
    def proxy[T](cls: Class[T])(h: (String, Array[AnyRef]) => AnyRef): T =
      Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
        new InvocationHandler {
          def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
            h(m.getName, if (args == null) Array.empty else args)
        }).asInstanceOf[T]
    val rsMeta = proxy(classOf[java.sql.ResultSetMetaData]) {
      case ("getColumnCount", _) => Integer.valueOf(0)
      case _ => null
    }
    val rs = proxy(classOf[java.sql.ResultSet]) {
      case ("next", _) => java.lang.Boolean.FALSE
      case ("getMetaData", _) => rsMeta
      case _ => null
    }
    val ps = proxy(classOf[java.sql.PreparedStatement]) {
      case ("executeUpdate", _) => Integer.valueOf(1)
      case ("executeQuery", _) => rs
      case (n, args) if n.startsWith("set") && args.length == 2 =>
        bindings += ((args(0).asInstanceOf[Integer].intValue(), args(1))); null
      case _ => null
    }
    val conn = proxy(classOf[java.sql.Connection]) {
      case ("prepareStatement", args) =>
        preparedSql += args(0).asInstanceOf[String]; ps
      case ("createStatement", _) =>
        fail("parameterized calls must not go through a plain Statement")
      case _ => null
    }
    val ex = new ConnectionExecutor(conn)
    ex.executeUpdate("INSERT INTO t (a, b) VALUES (?, ?)", Seq("o'brien \\x", 42L))
    ex.query("SELECT * FROM t WHERE a = ?", Seq("v"))
    assert(preparedSql.toSeq == Seq(
      "INSERT INTO t (a, b) VALUES (?, ?)", "SELECT * FROM t WHERE a = ?"))
    assert(bindings.toSet == Set((1, "o'brien \\x"), (2, java.lang.Long.valueOf(42L)), (1, "v")),
      s"values must arrive as typed bind calls: $bindings")
  }

  test("DDL text: primary keys arbitrate locks and bookkeeping upserts") {
    val db = new GraftDb(SqlDialect.Generic, new FakeDb)
    val ddl = db.ddl()
    assert(ddl.exists(s => s.contains("\"locks\"") && s.contains("PRIMARY KEY (\"token\")")))
    assert(ddl.exists(s => s.contains("\"bookkeeping\"")
      && s.contains("PRIMARY KEY (\"table_name\", \"info_date\")")))
    assert(ddl.exists(_.contains("\"offsets\"")))
    assert(ddl.exists(s => s.contains("\"metadata\"")
      && s.contains("PRIMARY KEY (\"table_name\", \"info_date\", \"meta_key\")")))
  }

  test("metadata: set/get/list round-trip, overwrite, cross-driver visibility") {
    val (db, _) = freshDb()
    val a = new MetadataStoreJdbc(db)
    assert(a.get("sales", d, "source").isEmpty && a.list("sales", d).isEmpty)
    a.set("sales", d, "source", "crawl-7")
    a.set("sales", d, "quality", "0.93")
    a.set("sales", d.plusDays(1), "source", "crawl-8") // other partition: independent
    a.set("other", d, "source", "nope")                // other table: independent
    // a DIFFERENT driver (fresh DAO, shared database) sees the values
    val b = new MetadataStoreJdbc(db)
    assert(b.get("sales", d, "source").contains("crawl-7"))
    assert(b.list("sales", d) == Map("source" -> "crawl-7", "quality" -> "0.93"))
    b.set("sales", d, "source", "crawl-7b") // overwrite: last write wins
    assert(a.get("sales", d, "source").contains("crawl-7b"))
    assert(a.list("sales", d.plusDays(1)) == Map("source" -> "crawl-8"))
    // delete one key, then the whole partition — others untouched
    a.delete("sales", d, "quality")
    assert(a.list("sales", d) == Map("source" -> "crawl-7b"))
    a.delete("sales", d, "quality") // absent: no-op
    a.deleteAll("sales", d)
    assert(a.list("sales", d).isEmpty)
    assert(a.list("sales", d.plusDays(1)).nonEmpty && a.list("other", d).nonEmpty)
  }

  test("metastore metadata surface runs on the database store when configured") {
    import graft.SparkSpec
    val spark = SparkSpec.session
    val (db, fake) = freshDb()
    val ms = new graft.meta.Metastore(spark, metadataStore = Some(new MetadataStoreJdbc(db)))
    // no table registration needed: values live in the database, not
    // under the table's path (the FS layout requires getTableDef)
    ms.setMetadata("t1", d, "lineage", "job-42")
    assert(ms.getMetadata("t1", d, "lineage").contains("job-42"))
    assert(ms.listMetadata("t1", d) == Map("lineage" -> "job-42"))
    assert(fake.statements.exists(_.startsWith("INSERT INTO \"metadata\"")),
      "the annotation must land in the database")
    // key validation stays on the shared surface
    intercept[IllegalArgumentException](ms.setMetadata("t1", d, "bad/key", "x"))
  }

  test("journal: every event keeps a row; completion order holds across writers") {
    import graft.pipeline.TaskEvent
    val (db, _) = freshDb()
    // two "drivers" (separate instances = separate writer ids + seqs)
    // interleave appends; a re-run of the same (job, date) appends a
    // SECOND row — the journal is an audit log, not latest-state
    val a = new JournalJdbc(db)
    val b = new JournalJdbc(db)
    a.append(TaskEvent("p", "j1", "t", Some(d), "succeeded", 10L, "", 100L))
    b.append(TaskEvent("p", "j2", "t", Some(d), "failed", 0L, "boom", 200L))
    a.append(TaskEvent("p", "j1", "t", Some(d), "succeeded", 12L, "re-run", 300L))
    b.append(TaskEvent("p", "j3", "t", None, "skipped", 0L, "already done", 250L))
    // a third driver reloads the full history in completion (at_ms) order
    val all = new JournalJdbc(db).all
    assert(all.map(_.job) == Seq("j1", "j2", "j3", "j1"))
    assert(all.map(_.status) == Seq("succeeded", "failed", "skipped", "succeeded"))
    assert(all.count(_.job == "j1") == 2, "re-runs must both stay visible")
    assert(all(2).infoDate.isEmpty, "a skipped event has no info date")
    assert(all(1).detail == "boom")
    // time-windowed read pushes the window into SQL (inclusive bounds,
    // numeric comparison — 250 is inside [200, 300], 100 is not)
    val win = new JournalJdbc(db).entries(200L, 300L)
    assert(win.map(_.job) == Seq("j2", "j3", "j1"), win.map(_.job).toString)
    val (sql, params) = fakeOf(db).prepared.last
    assert(sql.contains(">= ?") && sql.contains("<= ?") && params == Seq(200L, 300L),
      s"the window must be a pushed-down predicate: $sql $params")
  }

  /** The FakeDb behind a GraftDb built by freshDb (same executor). */
  private def fakeOf(db: GraftDb): FakeDb = db.executor.asInstanceOf[FakeDb]

  test("journal: quotes and backslashes ride bind parameters and round-trip") {
    import graft.pipeline.TaskEvent
    val (db, fake) = freshDb()
    val j = new JournalJdbc(db)
    val nasty = "it's \"quoted\" and C:\\network \\n not-a-newline"
    j.append(TaskEvent("p'1", "j\\2", "t", Some(d), "failed", 0L, nasty, 7L))
    val (sql, params) = fake.prepared.find(_._1.startsWith(s"INSERT INTO \"journal\"")).get
    assert(sql.contains("VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)"),
      s"values must be bind parameters, not spliced literals: $sql")
    assert(params.contains(nasty), "detail must reach the seam verbatim")
    assert(!sql.contains("quoted"), "no value text in the SQL")
    val back = new JournalJdbc(db).all
    assert(back.map(_.detail) == Seq(nasty))
    assert(back.head.pipeline == "p'1" && back.head.job == "j\\2")
  }

  test("journal: v2 database picks the table up on initialize without a version bump") {
    // a database created BEFORE the journal table existed (its ddl()
    // lacked the CREATE) upgrades by re-running initialize(): table
    // additions ride ddl()'s IF NOT EXISTS, only column changes need
    // a migrations step
    val fake = new FakeDb
    class PreJournalDb(ex: SqlExecutor) extends GraftDb(SqlDialect.Generic, ex) {
      override def ddl(): Seq[String] = super.ddl().filterNot(_.contains("\"journal\""))
    }
    new PreJournalDb(fake).initialize()
    assert(!fake.statements.exists(_.startsWith("CREATE TABLE IF NOT EXISTS \"journal\"")))
    val db = new GraftDb(SqlDialect.Generic, fake)
    db.initialize() // current code against the old database
    assert(db.schemaVersion() == GraftDb.CurrentVersion)
    val j = new JournalJdbc(db)
    j.append(graft.pipeline.TaskEvent("p", "j", "t", Some(d), "succeeded", 1L, "", 1L))
    assert(new JournalJdbc(db).all.size == 1)
  }
}
