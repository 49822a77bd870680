package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.LocalDate
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * One completed (or failed) task run
 * (reference: pramen/core .../core/bookkeeper/model/DataChunk.scala,
 * core/journal/model/TaskCompleted.scala).
 */
final case class RunRecord(
    table: String,
    infoDate: LocalDate,
    recordCount: Long,
    status: String,        // "succeeded" | "failed" | "skipped"
    startedAtMs: Long,
    finishedAtMs: Long)

/**
 * Bookkeeping contract the orchestration layer runs against
 * (reference: pramen/core .../core/bookkeeper/Bookkeeper.scala — the
 * base trait its JDBC/Mongo/HadoopFS variants implement). graft ships
 * the shared-filesystem [[Bookkeeper]] and the RDBMS-backed
 * [[graft.rdb.BookkeeperJdbc]].
 */
/** Undercover mode (reference: `pramen.undercover`,
  * RuntimeConfig.scala:65): the run executes for real — reads, writes,
  * notifications — but leaves NO TRACE in bookkeeping, so catch-up,
  * skip-if-done and late-data detection behave afterwards as if the
  * run never happened. For re-driving production incidents without
  * corrupting the run history. Reads delegate (decisions still see the
  * real history); writes drop. */
final class UndercoverBookkeeper(delegate: BookkeeperStore) extends BookkeeperStore {
  override def record(r: RunRecord): Unit = ()
  override def get(table: String, infoDate: LocalDate): Option[RunRecord] =
    delegate.get(table, infoDate)
  override def isAlreadyRan(table: String, infoDate: LocalDate): Boolean =
    delegate.isAlreadyRan(table, infoDate)
  override def latestSuccess(table: String): Option[LocalDate] =
    delegate.latestSuccess(table)
  override def latestSuccessRecord(table: String, until: LocalDate): Option[RunRecord] =
    delegate.latestSuccessRecord(table, until)
  override def all: Seq[RunRecord] = delegate.all
}

trait BookkeeperStore {
  def record(r: RunRecord): Unit
  def get(table: String, infoDate: LocalDate): Option[RunRecord]
  /** Done means succeeded OR durably skipped (`Reason.Skip` records a
    * "skipped" slot precisely so it is never re-offered). */
  def isAlreadyRan(table: String, infoDate: LocalDate): Boolean
  def latestSuccess(table: String): Option[LocalDate]
  /** Newest successful record with infoDate <= `until` — the slice a
    * dependent's `getTable(..., to = until)` / `getLatest` read
    * actually consumed. */
  def latestSuccessRecord(table: String, until: LocalDate): Option[RunRecord]
  def all: Seq[RunRecord]
}

/**
 * Shared journal semantics over a driver-side record fetch — the
 * Seq-shaped twin of `BookkeeperSparkBase`: every-attempt journals
 * reduce to newest-attempt-per-(table, date), done = succeeded or
 * durably skipped, latest-success scans. Backends supply only the
 * storage reads (with optional per-date pushdown), so the Mongo and
 * DynamoDB stores cannot drift semantically from each other or from
 * the Spark-backed journals.
 */
private[graft] trait SeqJournalSemantics extends BookkeeperStore {
  /** Every attempt for `table`; when `infoDate` is given, backends may
    * push the date filter into storage (key condition / find filter). */
  protected def recordsFor(table: String, infoDate: Option[LocalDate] = None): Seq[RunRecord]
  /** Every attempt across all tables. */
  protected def allRecords: Seq[RunRecord]

  private def newestPerDate(table: String): Seq[RunRecord] =
    recordsFor(table).groupBy(_.infoDate).values.map(_.maxBy(_.finishedAtMs)).toSeq

  override def get(table: String, infoDate: LocalDate): Option[RunRecord] =
    recordsFor(table, Some(infoDate)).maxByOption(_.finishedAtMs)

  override def isAlreadyRan(table: String, infoDate: LocalDate): Boolean =
    get(table, infoDate).exists(r => r.status == "succeeded" || r.status == "skipped")

  override def latestSuccess(table: String): Option[LocalDate] =
    newestPerDate(table).filter(_.status == "succeeded")
      .map(_.infoDate).maxByOption(_.toEpochDay)

  override def latestSuccessRecord(table: String, until: LocalDate): Option[RunRecord] =
    newestPerDate(table)
      .filter(r => r.status == "succeeded" && !r.infoDate.isAfter(until))
      .maxByOption(_.infoDate.toEpochDay)

  override def all: Seq[RunRecord] =
    allRecords.groupBy(r => (r.table, r.infoDate))
      .values.map(_.maxBy(_.finishedAtMs)).toSeq
}

/**
 * Pipeline state journal enabling auto-healing: a (table, infoDate)
 * that already succeeded is skipped on re-run
 * (reference: pramen/core .../core/bookkeeper/Bookkeeper.scala — the
 * JDBC/Mongo/HadoopFS variants, esp. BookkeeperHadoop's shared-FS
 * semantics).
 *
 * Persistence is a DIRECTORY of one-JSON-file-per-record, each
 * written to a hidden temp name and atomically renamed into place —
 * two drivers journaling through shared storage can never interleave
 * partial lines or clobber each other (a single shared append file
 * cannot guarantee that on object stores or NFS). Record filenames
 * lead with finishedAtMs + a per-writer id, so a reload applies
 * records in completion order and the newest record per
 * (table, infoDate) wins.
 */
final class Bookkeeper(journalPath: Option[String] = None) extends BookkeeperStore {
  private val records = TrieMap.empty[(String, LocalDate), RunRecord]
  private val writerId = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  journalPath.foreach { p =>
    val dir = Paths.get(p)
    require(!Files.isRegularFile(dir),
      s"bookkeeping journal path $p is a regular file; the journal is a directory of record files")
    if (Files.isDirectory(dir)) {
      val stream = Files.list(dir) // must close: holds a directory fd
      val files =
        try stream.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".json"))
          .toSeq.sortBy(_.getFileName.toString)
        finally stream.close()
      files.foreach { f =>
        val line = new String(Files.readAllBytes(f), "UTF-8")
        parseLine(line).foreach(r => records.put((r.table, r.infoDate), r))
      }
    }
  }

  def record(r: RunRecord): Unit = {
    records.put((r.table, r.infoDate), r)
    journalPath.foreach { p =>
      val dir = Paths.get(p)
      Files.createDirectories(dir)
      val json = s"""{"table":"${r.table}","infoDate":"${r.infoDate}","recordCount":${r.recordCount},"status":"${r.status}","startedAtMs":${r.startedAtMs},"finishedAtMs":${r.finishedAtMs}}"""
      val name = f"${r.finishedAtMs}%013d_${writerId}_${seq.getAndIncrement()}%06d.json"
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, json.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def get(table: String, infoDate: LocalDate): Option[RunRecord] = records.get((table, infoDate))

  /** Done means succeeded OR durably skipped (`Reason.Skip` records a
    * "skipped" slot precisely so it is never re-offered). */
  def isAlreadyRan(table: String, infoDate: LocalDate): Boolean =
    records.get((table, infoDate)).exists(r => r.status == "succeeded" || r.status == "skipped")

  def latestSuccess(table: String): Option[LocalDate] =
    records.values.filter(r => r.table == table && r.status == "succeeded")
      .map(_.infoDate).maxByOption(_.toEpochDay)

  /** Newest successful record with infoDate <= `until` — the slice a
    * dependent's `getTable(..., to = until)` / `getLatest` read
    * actually consumed. */
  def latestSuccessRecord(table: String, until: LocalDate): Option[RunRecord] =
    records.values
      .filter(r => r.table == table && r.status == "succeeded" && !r.infoDate.isAfter(until))
      .maxByOption(_.infoDate.toEpochDay)

  def all: Seq[RunRecord] = records.values.toSeq

  // minimal JSON field extraction for our own fixed-shape lines
  private def parseLine(line: String): Option[RunRecord] = {
    def str(k: String): Option[String] =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(line).map(_.group(1))
    def num(k: String): Option[Long] =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
    for {
      t <- str("table"); d <- str("infoDate"); c <- num("recordCount")
      s <- str("status"); a <- num("startedAtMs"); f <- num("finishedAtMs")
    } yield RunRecord(t, LocalDate.parse(d), c, s, a, f)
  }
}
