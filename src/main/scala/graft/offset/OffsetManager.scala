package graft.offset

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * Offset value for incremental ingestion
 * (reference: pramen/api .../api/offset/OffsetValue.scala — integral,
 * datetime, string offset types; api/offset/OffsetType.scala).
 */
sealed trait OffsetValue extends Ordered[OffsetValue] {
  def typeName: String
  def asString: String
}
object OffsetValue {
  final case class IntegralValue(v: Long) extends OffsetValue {
    val typeName = "integral"; def asString = v.toString
    def compare(that: OffsetValue): Int = that match {
      case IntegralValue(o) => v.compareTo(o)
      case o => throw new IllegalArgumentException(s"Cannot compare integral offset with ${o.typeName}")
    }
  }
  final case class DateTimeValue(epochMilli: Long) extends OffsetValue {
    val typeName = "datetime"; def asString = epochMilli.toString
    def compare(that: OffsetValue): Int = that match {
      case DateTimeValue(o) => epochMilli.compareTo(o)
      case o => throw new IllegalArgumentException(s"Cannot compare datetime offset with ${o.typeName}")
    }
  }
  final case class StringValue(v: String) extends OffsetValue {
    val typeName = "string"; def asString = v
    def compare(that: OffsetValue): Int = that match {
      case StringValue(o) => v.compareTo(o)
      case o => throw new IllegalArgumentException(s"Cannot compare string offset with ${o.typeName}")
    }
  }

  /**
   * Per-partition Kafka log offsets (reference: pramen/api
   * .../api/offset/OffsetValue.scala:80 — KafkaValue). Each entry is
   * the LAST-READ offset of one topic partition; [[increment]] gives
   * the next read's starting offsets. String form is the Spark kafka
   * option spelling `{"0":12,"1":5}`, partitions sorted.
   *
   * Comparison is the reference's vector order with one deliberate
   * widening: partitions missing on either side compare as -1
   * (nothing read) instead of throwing, because Kafka topics GROW
   * partitions — a topic going 4->6 partitions mid-pipeline must not
   * brick the offset store. Divergent vectors (some ahead, some
   * behind) still throw, as in the reference.
   */
  final case class KafkaValue(partitionOffsets: Map[Int, Long]) extends OffsetValue {
    val typeName = "kafka"
    def asString: String = partitionOffsets.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
    def compare(that: OffsetValue): Int = that match {
      case KafkaValue(other) =>
        val signs = (partitionOffsets.keySet ++ other.keySet).toSeq.map { p =>
          java.lang.Long.compare(partitionOffsets.getOrElse(p, -1L), other.getOrElse(p, -1L))
        }
        val ahead = signs.exists(_ > 0)
        val behind = signs.exists(_ < 0)
        if (ahead && behind) throw new IllegalArgumentException(
          s"Divergent Kafka offsets: some partitions ahead, some behind ($asString vs ${KafkaValue(other).asString})")
        else if (ahead) 1 else if (behind) -1 else 0
      case o => throw new IllegalArgumentException(s"Cannot compare kafka offset with ${o.typeName}")
    }
    /** Next read's inclusive starting offsets (last-read + 1). */
    def increment: KafkaValue = KafkaValue(partitionOffsets.map { case (p, o) => (p, o + 1) })
  }

  /**
   * The value a store should persist when `next` is committed on top
   * of `prev`, or None when nothing advances. Scalar offsets REPLACE
   * under the monotonic `<` rule; per-partition kafka offsets MERGE —
   * an incremental batch touches only the partitions that had new
   * records, and partitions absent from the batch must keep their
   * committed position rather than be dropped (which would both lose
   * progress and make the next comparison divergent). Merging takes
   * the per-partition max, so replaying commits in any order
   * converges — the property the FS store's load path relies on.
   */
  def advance(prev: Option[OffsetValue], next: OffsetValue): Option[OffsetValue] = (prev, next) match {
    case (None, n) => Some(n)
    case (Some(p: KafkaValue), n: KafkaValue) =>
      val merged = KafkaValue((p.partitionOffsets.keySet ++ n.partitionOffsets.keySet).map { k =>
        k -> math.max(p.partitionOffsets.getOrElse(k, -1L), n.partitionOffsets.getOrElse(k, -1L))
      }.toMap)
      if (merged == p) None else Some(merged)
    case (Some(p), n) => if (p < n) Some(n) else None
  }

  def fromString(typeName: String, s: String): OffsetValue = typeName match {
    case "integral" => IntegralValue(s.toLong)
    case "datetime" => DateTimeValue(s.toLong)
    case "string"   => StringValue(s)
    case "kafka" =>
      val entries = s.replaceAll("[{}\"\\s]", "").split(",").filter(_.nonEmpty).map { part =>
        part.split(":") match {
          case Array(p, o) => p.toInt -> o.toLong
          case _ => throw new IllegalArgumentException(s"Bad kafka offset entry '$part' in '$s'")
        }
      }
      KafkaValue(entries.toMap)
    case other => throw new IllegalArgumentException(s"Unknown offset type: $other")
  }
}

/** Offset column description (reference: pramen/api .../api/offset/OffsetInfo.scala). */
final case class OffsetInfo(column: String, offsetType: String)

/**
 * Committed-offset storage contract plus the (storage-independent)
 * incremental-predicate builders (reference: pramen/core
 * .../core/bookkeeper/OffsetManager.scala — the base trait behind its
 * JDBC variant). graft ships the shared-FS [[OffsetManager]] and the
 * database-backed [[graft.rdb.OffsetStoreJdbc]]; ingestion jobs and
 * the orchestrator's incremental context run against this trait.
 */
/** Undercover variant (see `pipeline.UndercoverBookkeeper`): reads
  * delegate so incremental jobs consume the correct delta; commits
  * drop, so the next REAL run re-delivers the same window. */
final class UndercoverOffsetStore(delegate: OffsetStore) extends OffsetStore {
  override def supports(offsetType: String): Boolean = delegate.supports(offsetType)
  override def getLatestOffset(table: String): Option[OffsetValue] =
    delegate.getLatestOffset(table)
  override def commit(table: String, offset: OffsetValue): Unit = ()
}

/**
 * Per-run read-through cache over any [[OffsetStore]] (reference:
 * pramen/core .../core/bookkeeper/OffsetManagerCached.scala): a
 * pipeline touching thousands of tables otherwise pays one store
 * round-trip PER LOOKUP (the JDBC/Dynamo stores re-read by design for
 * cross-driver visibility). Through this wrapper the store is read AT
 * MOST ONCE per table per run — at the first lookup, or at the first
 * commit on a never-read table (the post-commit view, so a
 * pre-existing HIGHER store offset can never be shadowed by our lower
 * commit and re-deliver rows).
 *
 * Commit semantics are UNCHANGED: every commit writes through to the
 * delegate first (its monotonic/CAS arbitration still runs against
 * concurrent drivers; a delegate failure propagates with the cache
 * untouched), then merges into the cache under a per-table lock via
 * the same [[OffsetValue.advance]] rule the stores use. The traded
 * property is mid-run freshness of OTHER drivers' commits — the same
 * snapshot-per-run semantics the reference cache accepts; this
 * process's own commits are always visible to its own reads.
 */
final class OffsetStoreCached(delegate: OffsetStore) extends OffsetStore {
  private val cache = TrieMap.empty[String, Option[OffsetValue]]
  private val locks = TrieMap.empty[String, Object]
  private def lockFor(table: String): Object =
    locks.getOrElseUpdate(table, new Object)

  override def supports(offsetType: String): Boolean = delegate.supports(offsetType)

  override def getLatestOffset(table: String): Option[OffsetValue] =
    lockFor(table).synchronized {
      cache.getOrElseUpdate(table, delegate.getLatestOffset(table))
    }

  override def commit(table: String, offset: OffsetValue): Unit = {
    // write-through OUTSIDE the cache lock: the delegate's own CAS is
    // the cross-driver arbiter and must see the real contention
    delegate.commit(table, offset)
    lockFor(table).synchronized {
      cache.get(table) match {
        case Some(cur) =>
          // merge exactly like the stores do; at/below-cached commits
          // are the monotonic no-op
          OffsetValue.advance(cur, offset).foreach(n => cache.put(table, Some(n)))
        case None =>
          // never read: take the POST-commit store view (one read,
          // still <= 1 per table per run) — advance(None, offset)
          // would shadow a pre-existing higher store offset and
          // re-deliver its window on this run's next read
          cache.put(table, delegate.getLatestOffset(table))
      }
    }
  }
}

trait OffsetStore {
  /** Whether this store can order/commit the given offset type. An
    * ingestion job checks this BEFORE reading or saving anything — a
    * store that can only reject at commit time (after the save) would
    * leave a duplicate-delivery crash loop. */
  def supports(offsetType: String): Boolean = true

  def getLatestOffset(table: String): Option[OffsetValue]
  /** Commit a new max offset after a successful incremental batch.
    * Implementations are monotonic: a commit at/below the stored
    * offset is ignored. */
  def commit(table: String, offset: OffsetValue): Unit

  /** Bound `df` at/below a pinned max offset — used to freeze an
    * incremental batch's upper edge so rows appended to the source
    * mid-job fall outside both the save and the committed offset. */
  final def boundedAbove(df: DataFrame, info: OffsetInfo, upper: OffsetValue): DataFrame =
    upper match {
      case kv: OffsetValue.KafkaValue =>
        // per-partition bound on the kafka metadata struct; a partition
        // absent from the pinned max (appeared mid-batch) compares
        // null -> excluded, delivering on the NEXT run — the same
        // no-silent-skip guarantee the scalar path gives
        df.where(col(s"${info.column}.offset") <=
          kafkaOffsetLookup(kv, col(s"${info.column}.partition")))
      case _ => df.where(col(info.column) <= offsetLit(upper))
    }

  /** Filter `df` to rows strictly after the committed offset (pushdown-friendly). */
  final def incrementalFilter(df: DataFrame, info: OffsetInfo, table: String): DataFrame =
    getLatestOffset(table) match {
      case Some(kv: OffsetValue.KafkaValue) =>
        // partitions with no committed offset (topic grew) are fully new
        df.where(coalesce(col(s"${info.column}.offset") >
          kafkaOffsetLookup(kv, col(s"${info.column}.partition")), lit(true)))
      case Some(from) => df.where(col(info.column) > offsetLit(from))
      case None => df
    }

  /** Compute the max offset present in a batch (one tiny agg job; for
    * kafka offsets, one per-partition agg of at most #partitions rows). */
  final def maxOffset(df: DataFrame, info: OffsetInfo): Option[OffsetValue] = {
    if (info.offsetType == "kafka") {
      val rows = df.groupBy(col(s"${info.column}.partition").as("p"))
        .agg(max(col(s"${info.column}.offset")).as("o")).collect()
      if (rows.isEmpty) None
      else Some(OffsetValue.KafkaValue(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap))
    } else {
      val row = df.agg(max(col(info.column))).head()
      if (row.isNullAt(0)) None
      else Some(info.offsetType match {
        case "integral" => OffsetValue.IntegralValue(row.getAs[Number](0).longValue())
        case "datetime" => OffsetValue.DateTimeValue(row.getAs[java.sql.Timestamp](0).getTime)
        case "string"   => OffsetValue.StringValue(row.getAs[String](0))
        case other => throw new IllegalArgumentException(s"Unknown offset type: $other")
      })
    }
  }

  /** `try_element_at(map(p -> o, ...), partition)` — the committed
    * offset of the row's partition, null when the partition is unknown. */
  private def kafkaOffsetLookup(kv: OffsetValue.KafkaValue, partition: Column): Column = {
    val entries = kv.partitionOffsets.toSeq.sortBy(_._1)
      .flatMap { case (p, o) => Seq(lit(p), lit(o)) }
    try_element_at(map(entries: _*), partition)
  }

  private def offsetLit(v: OffsetValue): Column = v match {
    case OffsetValue.IntegralValue(n) => lit(n)
    case OffsetValue.DateTimeValue(ms) => lit(new java.sql.Timestamp(ms))
    case OffsetValue.StringValue(s) => lit(s)
    case kv: OffsetValue.KafkaValue =>
      throw new IllegalArgumentException(s"kafka offsets are per-partition, not scalar: ${kv.asString}")
  }
}

/**
 * Tracks committed offsets per table and builds incremental-read
 * predicates (reference: pramen/core
 * .../core/bookkeeper/OffsetManagerJdbc.scala).
 *
 * Persistence is a DIRECTORY of one-file-per-commit, each written to
 * a hidden temp name and atomically renamed into place — concurrent
 * drivers committing through shared storage cannot interleave partial
 * lines. Commits only ever advance, so a reload replays commit files
 * in any order and keeps the max per table.
 *
 * Scale: the incremental read is a *predicate on the offset column*
 * (`col > from AND col <= to`), which Catalyst pushes into the scan
 * (`PushedFilters`) — on a sorted/partitioned 100 TB source only the
 * new tail is read; no full-table diff, no driver-side state beyond
 * one (table → offset) entry.
 */
final class OffsetManager(storePath: Option[String] = None) extends OffsetStore {
  private val committed = TrieMap.empty[String, OffsetValue]
  private val writerId = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  storePath.foreach { p =>
    val dir = Paths.get(p)
    require(!Files.isRegularFile(dir),
      s"offset store path $p is a regular file; the store is a directory of commit files")
    if (Files.isDirectory(dir)) {
      val stream = Files.list(dir) // must close: holds a directory fd
      try stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".tsv"))
        .foreach { f =>
          new String(Files.readAllBytes(f), "UTF-8").trim.split("\t") match {
            case Array(table, tpe, value) =>
              val v = OffsetValue.fromString(tpe, value)
              OffsetValue.advance(committed.get(table), v).foreach(committed.put(table, _))
            case _ =>
          }
        }
      finally stream.close()
    }
  }

  def getLatestOffset(table: String): Option[OffsetValue] = committed.get(table)

  /** Commit a new max offset after a successful incremental batch
    * (kafka offsets merge per partition — see [[OffsetValue.advance]]).
    *
    * The in-memory update is a CAS loop, not get-advance-put: two
    * threads committing the same table concurrently (parallel
    * orchestrator jobs sharing one store) could otherwise interleave
    * so the LOWER offset lands last — a silent in-memory regression
    * that re-delivers an already-committed window on the next
    * incremental read of this session. (The durable files were never
    * at risk: reload keeps the per-table max regardless of write
    * order.) */
  def commit(table: String, offset: OffsetValue): Unit = {
    @annotation.tailrec
    def advanceInMemory(): Option[OffsetValue] = {
      val prev = committed.get(table)
      OffsetValue.advance(prev, offset) match {
        case None => None
        case Some(stored) =>
          val won = prev match {
            case Some(p) => committed.replace(table, p, stored)
            case None    => committed.putIfAbsent(table, stored).isEmpty
          }
          if (won) Some(stored) else advanceInMemory()
      }
    }
    val toStore = advanceInMemory()
    toStore.foreach { stored =>
      storePath.foreach { p =>
        val dir = Paths.get(p)
        Files.createDirectories(dir)
        persist(dir, table, stored)
      }
    }
  }

  private def persist(dir: java.nio.file.Path, table: String, offset: OffsetValue): Unit = {
    val name = f"${System.currentTimeMillis()}%013d_${writerId}_${seq.getAndIncrement()}%06d.tsv"
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, s"$table\t${offset.typeName}\t${offset.asString}\n".getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

}
