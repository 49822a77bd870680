package graft.pipeline

import graft.meta.MetastoreReader
import org.apache.spark.sql.DataFrame

import java.time.LocalDate

/** Validation outcome (reference: pramen/api .../api/Reason.scala). */
sealed trait Reason
object Reason {
  case object Ready extends Reason
  final case class NotReady(msg: String) extends Reason
  /** Skip the date for good: recorded as done, never re-offered. */
  final case class Skip(msg: String) extends Reason
  /** Skip THIS run only: nothing recorded, the next Normal-mode run
    * offers the date again (reference: api/Reason.SkipOnce). */
  final case class SkipOnce(msg: String) extends Reason
  final case class Warning(msg: String) extends Reason
}

/**
 * A transformation job: reads metastore tables, returns the output
 * DataFrame for one information date
 * (reference: pramen/api .../api/Transformer.scala:30).
 */
trait Transformer {
  def validate(metastore: MetastoreReader, infoDate: LocalDate,
               options: Map[String, String]): Reason = Reason.Ready

  def run(metastore: MetastoreReader, infoDate: LocalDate,
          options: Map[String, String]): DataFrame

  /** Called after the output is SAVED — the reader can query the
    * fresh output partition (post-save validation, downstream
    * hand-offs). A throw fails the task; the partition stays written
    * and the failed bookkeeping record re-delivers the slot, the same
    * contract as minimum.records (reference: api/Transformer
    * postProcess). */
  def postProcess(outputTableName: String, metastore: MetastoreReader,
                  infoDate: LocalDate, options: Map[String, String]): Unit = ()
}

/**
 * Pass-through transformer with optional column projection/filter
 * (reference: pramen/core .../core/transformers/IdentityTransformer.scala —
 * options: input.table, empty.allowed).
 * Options: `input.table` (required), `columns` (comma list, optional),
 * `filter` (SQL boolean expr, optional).
 */
final class IdentityTransformer extends Transformer {
  override def validate(ms: MetastoreReader, infoDate: LocalDate,
                        options: Map[String, String]): Reason =
    if (options.contains("input.table")) Reason.Ready
    else Reason.NotReady("option 'input.table' is required")

  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame = {
    val df = ms.getTable(options("input.table"), Some(infoDate), Some(infoDate))
    val projected = options.get("columns") match {
      case Some(cols) => df.selectExpr(cols.split(",").toIndexedSeq.map(_.trim): _*)
      case None => df
    }
    options.get("filter").fold(projected)(f => projected.where(f))
  }
}

/**
 * Column type conversions over one input table
 * (reference: pramen/core .../core/transformers/ConversionTransformer.scala).
 * Options: `input.table` (required); `convert.<column> = <sqlType>`
 * per column (e.g. `convert.amount = decimal(18,2)`).
 */
final class ConversionTransformer extends Transformer {
  override def validate(ms: MetastoreReader, infoDate: LocalDate,
                        options: Map[String, String]): Reason =
    if (!options.contains("input.table")) Reason.NotReady("option 'input.table' is required")
    else if (!options.keys.exists(_.startsWith("convert.")))
      Reason.NotReady("at least one 'convert.<column>' option is required")
    else Reason.Ready

  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame = {
    val df = ms.getTable(options("input.table"), Some(infoDate), Some(infoDate))
    options.foldLeft(df) {
      case (acc, (k, sqlType)) if k.startsWith("convert.") =>
        val column = k.stripPrefix("convert.")
        acc.withColumn(column, org.apache.spark.sql.functions.col(column).cast(sqlType))
      case (acc, _) => acc
    }
  }
}

/**
 * Adapter that runs a SOURCE read as a pipeline job — the "ingestion"
 * operation type (reference: pramen/core
 * .../core/pipeline/OperationType.scala `ingestion|sourcing|extract`,
 * IngestionJob.scala): the source's info-date window becomes the
 * job's output DataFrame, which the orchestrator lands in the output
 * metastore table like any other job (bookkeeping, retries, locks and
 * late-data tracking included). The source is built lazily against
 * the active session so config parsing stays Spark-free.
 */
final class IngestionTransformer(
    build: (org.apache.spark.sql.SparkSession, LocalDate) => graft.sources.GraftSource,
    specialCharsInColumnNames: String = "")
    extends Transformer {
  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame =
    graft.sources.ColumnSanitizer.sanitize(
      build(org.apache.spark.sql.SparkSession.active, infoDate).getData(infoDate, infoDate).df,
      specialCharsInColumnNames)
}

/**
 * External-process transformer — the language-interop surface
 * (reference: pramen-py, whose Python transformers exchange data with
 * the JVM pipeline through metastore storage rather than in-process
 * calls). graft generalizes that contract to ANY runtime that reads
 * and writes parquet:
 *
 *  1. each declared input table's info-date slice is staged as
 *     parquet under `<staging>/in/<table>`;
 *  2. `command` runs once on the driver with `@in`, `@out` and
 *     `@infoDate` substituted (e.g.
 *     `python3 my_transform.py --in @in --out @out --date @infoDate`);
 *  3. the process writes its result as parquet to `@out`, which
 *     becomes the job's output DataFrame.
 *
 * The process never talks to Spark — executors write/read the staged
 * parquet in parallel; only the hand-off is driver-side. Options:
 * `command` may also come from job options (`process.command`).
 */
/** OutputStream keeping only the LAST `capacity` bytes written
  * (reference: pramen/core .../core/utils/CircularBuffer.scala, used
  * by its ProcessRunner for the same reason): failure reports only
  * need the tail of a child's output — a runaway child printing
  * gigabytes must not OOM the driver. */
final class TailBuffer(capacity: Int) extends java.io.OutputStream {
  require(capacity > 0, s"capacity must be positive: $capacity")
  private val buf = new Array[Byte](capacity)
  private var written = 0L

  override def write(b: Int): Unit = synchronized {
    buf((written % capacity).toInt) = b.toByte
    written += 1
  }

  override def write(bytes: Array[Byte], off: Int, len: Int): Unit = synchronized {
    // only the last `capacity` bytes of this chunk can survive anyway;
    // skipped bytes still advance the logical position or the ring
    // cut-point would drift from the retained data
    val n = math.min(len, capacity)
    val skip = len - n
    var i = 0
    while (i < n) {
      buf(((written + skip + i) % capacity).toInt) = bytes(off + skip + i)
      i += 1
    }
    written += len
  }

  def truncated: Boolean = written > capacity

  /** The retained tail, oldest byte first. */
  def tail: String = synchronized {
    if (!truncated) new String(buf, 0, written.toInt, "UTF-8")
    else {
      val cut = (written % capacity).toInt
      val out = new Array[Byte](capacity)
      System.arraycopy(buf, cut, out, 0, capacity - cut)
      System.arraycopy(buf, 0, out, capacity - cut, cut)
      new String(out, "UTF-8")
    }
  }

  /** Tail prefixed with a truncation marker when bytes were dropped. */
  def render: String =
    if (truncated) s"...[output truncated to the last $capacity bytes]...\n" + tail
    else tail
}

final class ProcessTransformer(command: String, stagingDir: String,
                               inputTables: Seq[String],
                               timeoutSeconds: Long = 600) extends Transformer {
  override def validate(ms: MetastoreReader, infoDate: LocalDate,
                        options: Map[String, String]): Reason =
    if (command.nonEmpty || options.contains("process.command")) Reason.Ready
    else Reason.NotReady("a command is required (constructor or option 'process.command')")

  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame = {
    require(inputTables.nonEmpty, "ProcessTransformer needs at least one input table")
    val runDir = s"$stagingDir/$infoDate"
    val inDir = s"$runDir/in"
    val outDir = s"$runDir/out"
    var spark: org.apache.spark.sql.SparkSession = null
    inputTables.foreach { t =>
      val df = ms.getTable(t, Some(infoDate), Some(infoDate))
      spark = df.sparkSession
      df.write.mode("overwrite").parquet(s"$inDir/$t")
    }
    val cmd = options.getOrElse("process.command", command)
      .replace("@infoDate", infoDate.toString)
      .replace("@in", inDir)
      .replace("@out", outDir)
    val proc = new ProcessBuilder(cmd.split("\\s+"): _*)
      .redirectErrorStream(true).start()
    // drain stdout on a daemon thread: a blocking readAllBytes here
    // would wait until the child closes stdout, so a hung child that
    // keeps the pipe open would defeat the timeout entirely (and a
    // chatty child could deadlock on a full pipe if nobody reads).
    // BOUNDED capture: failure reports need the tail, not gigabytes
    val outBuf = new TailBuffer(64 * 1024)
    val drainer = new Thread(() => {
      try proc.getInputStream.transferTo(outBuf)
      catch { case _: java.io.IOException => () } // stream torn down on kill
    }, "graft-process-drain")
    drainer.setDaemon(true)
    drainer.start()
    val finished = proc.waitFor(timeoutSeconds, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) { proc.destroyForcibly(); throw new RuntimeException(s"ProcessTransformer timed out: $cmd") }
    drainer.join(10000) // process exited → pipe closes → drain completes
    if (proc.exitValue() != 0)
      throw new RuntimeException(
        s"ProcessTransformer command failed (exit ${proc.exitValue()}): $cmd\n${outBuf.render}")
    spark.read.parquet(outDir)
  }
}

/**
 * SQL transformer: runs a Spark SQL statement with metastore tables
 * registered as temp views and `@infoDate` substituted.
 *
 * Temp views are session-global and named after the input tables, so
 * two tasks of one job running concurrently (date-parallel backfill)
 * would resolve each other's date slice. Registering the views and
 * analyzing the statement therefore happen under one lock, and the
 * views are dropped before it is released: `spark.sql` analyzes
 * eagerly, so the returned frame already holds the resolved plans.
 */
final class SqlTransformer(sql: String, inputTables: Seq[String]) extends Transformer {
  override def run(ms: MetastoreReader, infoDate: LocalDate,
                   options: Map[String, String]): DataFrame = {
    require(inputTables.nonEmpty, "SqlTransformer needs at least one input table")
    val inputs = inputTables.map(t => t -> ms.getTable(t, Some(infoDate), Some(infoDate)))
    val spark = inputs.head._2.sparkSession
    SqlTransformer.synchronized {
      try {
        inputs.foreach { case (t, df) => df.createOrReplaceTempView(t) }
        spark.sql(sql.replace("@infoDate", s"DATE'$infoDate'"))
      } finally {
        // the session catalog's drop: `spark.catalog.dropTempView` also
        // uncaches the view's plan, which may be a metastore table's
        // cached frame
        inputTables.foreach(spark.sessionState.catalog.dropTempView)
      }
    }
  }
}

object SqlTransformer
