package graft.dynamo

import java.time.LocalDate

import graft.databricks.{HttpTransport, Json}
import graft.pipeline.{BookkeeperStore, RunRecord}

/**
 * DynamoDB-backed bookkeeping (reference: pramen/core
 * .../core/bookkeeper/BookkeeperDynamoDb.scala — partition key
 * `tableName`, composite sort key `infoDate#jobFinished` so one
 * (table, date) keeps every attempt) re-expressed over graft's
 * [[HttpTransport]] seam: DynamoDB's public API is plain HTTP POST
 * with `X-Amz-Target` routing and AWS Signature V4 auth, so instead
 * of the AWS SDK dependency the client speaks the documented wire
 * protocol directly — [[SigV4]] implements the full canonical-request
 * / string-to-sign / HMAC-chain signing process from the public AWS
 * docs and is pinned against the documentation's own test vector.
 * The zero-egress environment exercises every request shape,
 * signature and response parse against a scripted in-memory DynamoDB
 * (the S2/S12 driverless discipline); against real AWS only the
 * socket differs.
 */
object SigV4 {
  private val Algorithm = "AWS4-HMAC-SHA256"

  def sha256Hex(data: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(data)
      .map(b => f"${b & 0xFF}%02x").mkString

  private def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes("UTF-8"))
  }

  /** Canonical request per the AWS docs: method, URI, sorted query,
    * lowercased sorted headers (each `k:v\n`), signed-header list,
    * payload hash. Header VALUES are trimmed with inner whitespace
    * collapsed (the documented sequential-space rule). */
  def canonicalRequest(method: String, uri: String, query: String,
                       headers: Seq[(String, String)], payloadHash: String): String = {
    val canon = headers.map { case (k, v) =>
      k.toLowerCase -> v.trim.replaceAll("\\s+", " ")
    }.sortBy(_._1)
    val headerBlock = canon.map { case (k, v) => s"$k:$v\n" }.mkString
    val signedHeaders = canon.map(_._1).mkString(";")
    val canonQuery = query.split("&").filter(_.nonEmpty).sorted.mkString("&")
    s"$method\n$uri\n$canonQuery\n$headerBlock\n$signedHeaders\n$payloadHash"
  }

  def signedHeaderList(headers: Seq[(String, String)]): String =
    headers.map(_._1.toLowerCase).sorted.mkString(";")

  /** The Authorization header value. `amzDate` is `yyyyMMdd'T'HHmmss'Z'`. */
  def authorization(method: String, uri: String, query: String,
                    headers: Seq[(String, String)], payload: Array[Byte],
                    accessKey: String, secretKey: String,
                    region: String, service: String, amzDate: String): String = {
    val dateStamp = amzDate.take(8)
    val scope = s"$dateStamp/$region/$service/aws4_request"
    val creq = canonicalRequest(method, uri, query, headers, sha256Hex(payload))
    val stringToSign = s"$Algorithm\n$amzDate\n$scope\n${sha256Hex(creq.getBytes("UTF-8"))}"
    val kDate = hmac(s"AWS4$secretKey".getBytes("UTF-8"), dateStamp)
    val kRegion = hmac(kDate, region)
    val kService = hmac(kRegion, service)
    val kSigning = hmac(kService, "aws4_request")
    val signature = hmac(kSigning, stringToSign).map(b => f"${b & 0xFF}%02x").mkString
    s"$Algorithm Credential=$accessKey/$scope, " +
      s"SignedHeaders=${signedHeaderList(headers)}, Signature=$signature"
  }
}

/**
 * Minimal DynamoDB data-plane client: PutItem / Query / Scan /
 * DescribeTable / CreateTable over signed HTTP. Attribute values use
 * the wire encoding (`{"S": "..."}`, `{"N": "..."}`). Every call is
 * one POST to the endpoint root with `X-Amz-Target:
 * DynamoDB_20120810.<Op>` and `application/x-amz-json-1.0` content.
 */
final class DynamoDbClient(endpoint: String, region: String,
                           accessKey: String, secretKey: String,
                           http: HttpTransport,
                           clock: () => java.time.Instant = () => java.time.Instant.now()) {

  private val host = java.net.URI.create(endpoint).getAuthority

  def call(op: String, bodyJson: String): Map[String, Any] = {
    val payload = bodyJson.getBytes("UTF-8")
    val amzDate = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(clock())
    val target = s"DynamoDB_20120810.$op"
    val signedHeaders = Seq(
      "content-type" -> "application/x-amz-json-1.0",
      "host" -> host,
      "x-amz-date" -> amzDate,
      "x-amz-target" -> target)
    val auth = SigV4.authorization("POST", "/", "", signedHeaders, payload,
      accessKey, secretKey, region, "dynamodb", amzDate)
    val (status, body) = http.post(s"$endpoint/", bodyJson, Map(
      "Content-Type" -> "application/x-amz-json-1.0",
      "X-Amz-Date" -> amzDate,
      "X-Amz-Target" -> target,
      "Authorization" -> auth))
    if (status != 200)
      throw new RuntimeException(s"DynamoDB $op failed: HTTP $status $body")
    Json.parseObj(body)
  }

  /** True when the table exists (DescribeTable vs
    * ResourceNotFoundException mapped by status/message). */
  def tableExists(table: String): Boolean =
    try { call("DescribeTable", Json.obj("TableName" -> Json.str(table))); true }
    catch {
      case e: RuntimeException if e.getMessage.contains("ResourceNotFound") => false
    }

  /** Idempotent create-or-wait: an EXISTING table may still be in
    * CREATING state (real CreateTable is async and another driver may
    * have issued it seconds ago) — skipping the ACTIVE wait on the
    * exists path let the second driver's first PutItem die with
    * ResourceNotFound (r17 review). One DescribeTable on the common
    * already-ACTIVE path. */
  def ensureTableActive(table: String, hashKey: String,
                        rangeKey: Option[String] = None): Unit =
    if (!tableExists(table)) createTable(table, hashKey, rangeKey)
    else awaitActive(table)

  def createTable(table: String, hashKey: String, rangeKey: Option[String] = None): Unit = {
    val keys = Seq(hashKey -> "HASH") ++ rangeKey.map(_ -> "RANGE")
    // real CreateTable is ASYNC and races between drivers: a
    // concurrent creator's ResourceInUse means the table is coming up
    // — both outcomes proceed to the ACTIVE wait below
    try {
      call("CreateTable", Json.obj(
        "TableName" -> Json.str(table),
        "AttributeDefinitions" -> keys.map { case (k, _) =>
          Json.obj("AttributeName" -> Json.str(k), "AttributeType" -> Json.str("S"))
        }.mkString("[", ",", "]"),
        "KeySchema" -> keys.map { case (k, t) =>
          Json.obj("AttributeName" -> Json.str(k), "KeyType" -> Json.str(t))
        }.mkString("[", ",", "]"),
        "BillingMode" -> Json.str("PAY_PER_REQUEST")))
      ()
    } catch {
      case e: RuntimeException if e.getMessage.contains("ResourceInUse") => ()
    }
    awaitActive(table)
  }

  /** Poll DescribeTable until TableStatus = ACTIVE (CreateTable is
    * asynchronous on real DynamoDB; the first PutItem against a
    * CREATING table would throw ResourceNotFound/ResourceInUse). */
  private def awaitActive(table: String, maxWaitMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var status = describeStatus(table)
    while (status != "ACTIVE" && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      status = describeStatus(table)
    }
    if (status != "ACTIVE") throw new IllegalStateException(
      s"DynamoDB table '$table' not ACTIVE after ${maxWaitMs}ms (status: $status)")
  }

  private def describeStatus(table: String): String =
    call("DescribeTable", Json.obj("TableName" -> Json.str(table))).get("Table") match {
      case Some(t: Map[_, _]) =>
        t.asInstanceOf[Map[String, Any]].get("TableStatus") match {
          case Some(s: String) => s
          case _ => "ACTIVE" // scripted fakes may omit the field: treat as ready
        }
      case _ => "ACTIVE"
    }

  /** Append a ConditionExpression (+ values) to a request body. The
    * real service REJECTS an empty ExpressionAttributeValues map, so a
    * value-free condition (attribute_not_exists) must omit the key
    * entirely — shared by putItem and deleteItem so the conditional
    * put and conditional delete encodings can never diverge. */
  private def withCondition(base: Seq[(String, String)],
                            condition: Option[(String, Map[String, (String, String)])])
      : Seq[(String, String)] =
    condition.fold(base) { case (expr, values) =>
      base ++ (Seq("ConditionExpression" -> Json.str(expr)) ++
        (if (values.isEmpty) Nil
         else Seq("ExpressionAttributeValues" -> Json.obj(values.toSeq.sortBy(_._1).map {
           case (k, (tpe, v)) => k -> Json.obj(tpe -> Json.str(v))
         }: _*))))
    }

  /** PutItem, optionally guarded by a ConditionExpression; returns
    * false when the conditional check failed (the item was NOT
    * written) — the primitive monotonic offset commits build on. */
  def putItem(table: String, item: Map[String, (String, String)],
              condition: Option[(String, Map[String, (String, String)])] = None): Boolean = {
    val fields = item.toSeq.sortBy(_._1).map { case (k, (tpe, v)) =>
      k -> Json.obj(tpe -> Json.str(v))
    }
    val base = Seq(
      "TableName" -> Json.str(table),
      "Item" -> Json.obj(fields: _*))
    val withCond = withCondition(base, condition)
    try { call("PutItem", Json.obj(withCond: _*)); true }
    catch {
      case e: RuntimeException if e.getMessage.contains("ConditionalCheckFailed") => false
    }
  }

  /** Conditional delete; false when the condition rejects — including
    * the item being absent (DynamoDB fails a conditioned delete on a
    * missing item), which is arbitration, not an error. */
  def deleteItem(table: String, key: Map[String, (String, String)],
                 condition: Option[(String, Map[String, (String, String)])] = None): Boolean = {
    val base = Seq(
      "TableName" -> Json.str(table),
      "Key" -> Json.obj(key.toSeq.sortBy(_._1).map { case (k, (tpe, v)) =>
        k -> Json.obj(tpe -> Json.str(v))
      }: _*))
    val withCond = withCondition(base, condition)
    try { call("DeleteItem", Json.obj(withCond: _*)); true }
    catch {
      case e: RuntimeException if e.getMessage.contains("ConditionalCheckFailed") => false
    }
  }

  /** Query by key condition; returns decoded items
    * (attr → (type, value)). Follows LastEvaluatedKey pagination. */
  def query(table: String, keyCondition: String,
            values: Map[String, (String, String)]): Seq[Map[String, (String, String)]] =
    paged("Query", Json.obj(
      "TableName" -> Json.str(table),
      "KeyConditionExpression" -> Json.str(keyCondition),
      "ExpressionAttributeValues" -> Json.obj(values.toSeq.sortBy(_._1).map {
        case (k, (tpe, v)) => k -> Json.obj(tpe -> Json.str(v))
      }: _*)))

  def scan(table: String): Seq[Map[String, (String, String)]] =
    paged("Scan", Json.obj("TableName" -> Json.str(table)))

  private def paged(op: String, baseBody: String): Seq[Map[String, (String, String)]] = {
    val out = Seq.newBuilder[Map[String, (String, String)]]
    var startKey: Option[String] = None
    var more = true
    while (more) {
      val body = startKey.fold(baseBody)(k =>
        baseBody.dropRight(1) + ", " + Json.str("ExclusiveStartKey") + ": " + k + "}")
      val resp = call(op, body)
      resp.get("Items").collect { case items: List[_] =>
        items.foreach { case item: Map[_, _] =>
          out += decodeItem(item.asInstanceOf[Map[String, Any]])
        }
      }
      startKey = resp.get("LastEvaluatedKey").collect { case m: Map[_, _] =>
        encodeKey(m.asInstanceOf[Map[String, Any]])
      }
      more = startKey.isDefined
    }
    out.result()
  }

  private def decodeItem(item: Map[String, Any]): Map[String, (String, String)] =
    item.collect { case (k, av: Map[_, _]) =>
      val m = av.asInstanceOf[Map[String, Any]]
      val (tpe, v) = m.head
      k -> (tpe, String.valueOf(v))
    }

  private def encodeKey(key: Map[String, Any]): String =
    Json.obj(key.toSeq.sortBy(_._1).map { case (k, av: Map[_, _]) =>
      val m = av.asInstanceOf[Map[String, Any]]
      k -> Json.obj(m.head._1 -> Json.str(String.valueOf(m.head._2)))
    }: _*)
}

/**
 * BookkeeperStore over DynamoDB (reference BookkeeperDynamoDb table
 * design): partition key `tableName`, sort key
 * `infoDate#finishedAtMs` — `begins_with(sk, "date#")` selects one
 * (table, date)'s attempts, the max sort key is the newest, and a
 * date-RANGE read is one key-condition (`sk BETWEEN`), never a scan.
 * Reads re-query per call (cross-driver visibility, the storage
 * backends' shared contract).
 */
final class BookkeeperDynamo(client: DynamoDbClient,
                             tablePrefix: String = "graft")
    extends BookkeeperStore with graft.pipeline.SeqJournalSemantics {
  private val table = s"${tablePrefix}_bookkeeping"
  // two attempts can finish in the same millisecond (racing drivers,
  // fast retries); the writer nonce keeps the sort key UNIQUE so the
  // journal really keeps every attempt — the same reason the FS and
  // text journals put writerId+seq in their file names
  private val writerNonce = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  def ensureTable(): Unit =
    client.ensureTableActive(table, "tableName", Some("infoDateSortKey"))

  ensureTable()

  override def record(r: RunRecord): Unit =
    client.putItem(table, Map(
      "tableName" -> ("S", r.table),
      "infoDateSortKey" -> ("S",
        f"${r.infoDate}%s#${r.finishedAtMs}%013d#$writerNonce-${seq.getAndIncrement()}%06d"),
      "infoDate" -> ("S", r.infoDate.toString),
      "recordCount" -> ("N", r.recordCount.toString),
      "status" -> ("S", r.status),
      "startedAtMs" -> ("N", r.startedAtMs.toString),
      "finishedAtMs" -> ("N", r.finishedAtMs.toString)))

  private def toRecord(item: Map[String, (String, String)]): RunRecord = RunRecord(
    item("tableName")._2, LocalDate.parse(item("infoDate")._2),
    item("recordCount")._2.toLong, item("status")._2,
    item("startedAtMs")._2.toLong, item("finishedAtMs")._2.toLong)

  override protected def recordsFor(tableName: String,
                                    infoDate: Option[LocalDate]): Seq[RunRecord] =
    infoDate match {
      case Some(d) =>
        // date filter pushes into the key condition — reads stay
        // key-bounded, never scans
        client.query(table, "tableName = :t AND begins_with(infoDateSortKey, :p)",
          Map(":t" -> ("S", tableName), ":p" -> ("S", s"$d#"))).map(toRecord)
      case None =>
        client.query(table, "tableName = :t", Map(":t" -> ("S", tableName))).map(toRecord)
    }

  override protected def allRecords: Seq[RunRecord] = client.scan(table).map(toRecord)
}

/**
 * Incremental-offset store over DynamoDB (reference:
 * core/bookkeeper/OffsetManagerDynamoDb.scala): ONE item per table
 * (pk `tableName`), monotonicity enforced SERVER-side with a
 * conditional put (`attribute_not_exists OR offsetValue < :v`) — two
 * racing drivers can both commit and the larger offset wins without
 * a read-modify-write window (DynamoDB evaluates the condition
 * atomically; N attributes compare numerically, S lexicographically,
 * matching [[graft.offset.OffsetValue]]'s own ordering).
 */
final class OffsetStoreDynamo(client: DynamoDbClient,
                              tablePrefix: String = "graft")
    extends graft.offset.OffsetStore {
  // the server-side scalar condition cannot order per-partition kafka
  // vectors; declare it so ingestion rejects BEFORE any data moves
  override def supports(offsetType: String): Boolean = offsetType != "kafka"

  private val table = s"${tablePrefix}_offsets"

  client.ensureTableActive(table, "tableName")

  private def attrType(tpe: String): String =
    if (tpe == "string") "S" else "N"

  override def getLatestOffset(tableName: String): Option[graft.offset.OffsetValue] =
    client.query(table, "tableName = :t", Map(":t" -> ("S", tableName)))
      .headOption.map { item =>
        graft.offset.OffsetValue.fromString(item("offsetType")._2, item("offsetValue")._2)
      }

  override def commit(tableName: String, offset: graft.offset.OffsetValue): Unit = {
    val t = attrType(offset.typeName)
    val raw = offset match {
      case graft.offset.OffsetValue.IntegralValue(v) => v.toString
      case graft.offset.OffsetValue.DateTimeValue(ms) => ms.toString
      case graft.offset.OffsetValue.StringValue(s) => s
      case kv: graft.offset.OffsetValue.KafkaValue =>
        // DynamoDB's server-side `offsetValue < :v` condition compares
        // scalars; a per-partition vector has no lexicographic order, so
        // accepting it would corrupt monotonicity silently
        throw new IllegalArgumentException(
          s"DynamoDB offset store cannot order per-partition kafka offsets server-side " +
            s"(got ${kv.asString}); use the FS or JDBC offset store for Kafka sources")
    }
    // false (condition failed) = the stored offset is already >= ours:
    // exactly the monotonic no-op the contract requires
    client.putItem(table, Map(
      "tableName" -> ("S", tableName),
      "offsetType" -> ("S", offset.typeName),
      "offsetValue" -> (t, raw)),
      condition = Some(("attribute_not_exists(tableName) OR offsetValue < :v",
        Map(":v" -> (t, raw)))))
    ()
  }
}

/**
 * DynamoDB-arbitrated run lock (reference: pramen/core
 * .../core/lock/TokenLockDynamoDb.scala): a conditional PutItem on the
 * lock table's hash key is the atomic arbiter — the same role the FS
 * lock's atomic file-create and the JDBC lock's PRIMARY KEY INSERT
 * play. Stale-break is ONE conditional replace predicated on the exact
 * observed (lockOwner, acquiredAtMs): a holder that refreshed, or a
 * third party that broke-and-re-acquired between our read and our
 * write, fails the condition and is never clobbered — strictly
 * stronger than the JDBC store's separate DELETE+INSERT window.
 * Release is owner-predicated for the same reason. Attribute names
 * avoid DynamoDB's reserved-word list (`lockOwner`, not `owner`) so
 * no ExpressionAttributeNames indirection is needed.
 */
final class TokenLockDynamo(client: DynamoDbClient, token: String,
                            tablePrefix: String = "graft",
                            staleMs: Long = 4L * 3600 * 1000,
                            nowMs: () => Long = () => System.currentTimeMillis(),
                            ensureTable: Boolean = true)
    extends graft.pipeline.RunLock {
  private val table = s"${tablePrefix}_locks"
  private val ownerId = java.util.UUID.randomUUID().toString
  if (ensureTable) client.ensureTableActive(table, "lockToken")

  private def freshItem() = Map(
    "lockToken" -> ("S", token),
    "lockOwner" -> ("S", ownerId),
    "acquiredAtMs" -> ("N", nowMs().toString))

  override def tryAcquire(): Boolean =
    if (client.putItem(table, freshItem(),
        condition = Some(("attribute_not_exists(lockToken)", Map.empty)))) true
    else {
      val held = client.query(table, "lockToken = :t",
        Map(":t" -> ("S", token))).headOption
      held match {
        case Some(item) if nowMs() - item("acquiredAtMs")._2.toLong > staleMs =>
          // atomic break+take: replace only while the row is STILL the
          // same stale acquisition; attribute_not_exists covers the
          // holder releasing between our read and this write
          client.putItem(table, freshItem(), condition = Some((
            "attribute_not_exists(lockToken) OR (lockOwner = :o AND acquiredAtMs = :a)",
            Map(":o" -> item("lockOwner"), ":a" -> item("acquiredAtMs")))))
        case Some(_) => false
        case None =>
          // holder released between our failed put and the probe — one
          // fresh attempt disambiguates (the TokenLockJdbc retryOnVanish
          // rule; a second failure reports held via the loop above)
          client.putItem(table, freshItem(),
            condition = Some(("attribute_not_exists(lockToken)", Map.empty)))
      }
    }

  override def release(): Unit = {
    // owner-predicated: releasing a lock someone else stale-broke and
    // re-acquired must not free THEIR lock; false (absent row) is fine
    client.deleteItem(table, Map("lockToken" -> ("S", token)),
      condition = Some(("lockOwner = :o", Map(":o" -> ("S", ownerId)))))
    ()
  }
}

/**
 * Append-only task journal in DynamoDB (reference: pramen/core
 * .../core/journal/JournalDynamoDB.scala — the journal lives in the
 * SAME store as bookkeeping, so a dynamo-bookkeeping fleet never
 * splits its audit trail). Same [[graft.pipeline.TaskJournal]]
 * contract as the FS/JDBC/Mongo variants: EVERY event keeps an item.
 * Key design: hash = writerId, range = zero-padded "atMs#seq" — one
 * writer's events are strictly ordered under its own hash key, and
 * cross-writer completion order (atMs, writerId, seq — the FS
 * file-name tuple) is re-established by a client-side sort on read
 * (`all` loads the full history by contract, like the FS reload, so
 * the Scan + sort adds nothing).
 *
 * Time-window reads (r19, the reference `getEntries(from, to)`): a
 * writer REGISTRY partition (hash = "__writers__", range = the
 * writer id, ONE item per JVM — r20: the id is process-wide, so the
 * registry grows per process lifetime, not per construction, and
 * window-read cost no longer scales with historical instance counts)
 * turns `entries(from, to)` into one registry Query plus one
 * range-key BETWEEN Query per writer — the zero-padded "atMs#seq"
 * range key makes `[from#000000, to#999999]` exactly the contract
 * window, so months of history never cross the wire (or consume read
 * units) for a one-night report. Registry items never surface
 * through `all`/`entries`.
 */
object JournalDynamo {
  /** ONE writer identity per JVM (ADVICE r19: a fresh UUID per
    * construction grew the registry one item per pipeline-run
    * construction, and `entries()` issues one Query per registered
    * writer — window-read cost grew linearly with historical runs).
    * Every instance in a process shares the id AND the process-wide
    * seq counter, so two instances appending in the same millisecond
    * cannot collide on the (atMs, seq) range key. Tests (and exotic
    * deployments) may still pass an explicit writerId. */
  private[dynamo] val ProcessWriterId: String =
    java.util.UUID.randomUUID().toString.take(8)
  private[dynamo] val ProcessSeq = new java.util.concurrent.atomic.AtomicLong(0)
}

final class JournalDynamo(client: DynamoDbClient,
                          tablePrefix: String = "graft",
                          writerIdOverride: Option[String] = None)
    extends graft.pipeline.TaskJournal {
  import graft.pipeline.TaskEvent
  private val table = s"${tablePrefix}_journal"
  private val writerId = writerIdOverride.getOrElse(JournalDynamo.ProcessWriterId)
  private val seq = JournalDynamo.ProcessSeq
  private val registered = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val RegistryHash = "__writers__"

  client.ensureTableActive(table, "writerId", Some("eventKey"))

  override def append(e: TaskEvent): Unit = {
    // one registry item per writer, written before its first event:
    // a crash between the two writes leaves a writer with no events
    // (harmless empty Query), never an event no window read can find.
    // The flag flips only AFTER the put succeeds — a CAS-first
    // spelling would mark a FAILED registration done and leave every
    // retried event invisible to window reads forever; the worst case
    // here is a redundant idempotent re-put under races/retries.
    if (!registered.get()) {
      client.putItem(table, Map(
        "writerId" -> ("S", RegistryHash),
        "eventKey" -> ("S", writerId)))
      registered.set(true)
    }
    client.putItem(table, Map(
      "writerId" -> ("S", writerId),
      "eventKey" -> ("S", f"${e.atMs}%013d#${seq.getAndIncrement()}%06d"),
      "pipeline" -> ("S", e.pipeline),
      "job" -> ("S", e.job),
      "tableName" -> ("S", e.table),
      "infoDate" -> ("S", e.infoDate.map(_.toString).getOrElse("")),
      "status" -> ("S", e.status),
      "records" -> ("N", e.records.toString),
      "detail" -> ("S", e.detail),
      "atMs" -> ("N", e.atMs.toString)))
    ()
  }

  private def toEvents(items: Seq[Map[String, (String, String)]]): Seq[TaskEvent] =
    items.sortBy(i => (i("atMs")._2.toLong, i("writerId")._2, i("eventKey")._2))
      .map { i =>
        val date = Option(i("infoDate")._2).filter(_.nonEmpty)
        TaskEvent(i("pipeline")._2, i("job")._2, i("tableName")._2,
          date.map(java.time.LocalDate.parse), i("status")._2,
          i("records")._2.toLong, i("detail")._2, i("atMs")._2.toLong)
      }

  override def all: Seq[TaskEvent] =
    toEvents(client.scan(table)
      .filterNot(_.get("writerId").exists(_._2 == RegistryHash)))

  override def entries(fromMs: Long, toMs: Long): Seq[TaskEvent] = {
    if (toMs < fromMs) return Seq.empty
    // epoch-ms are non-negative; a negative `fromMs` would format with
    // a sign and break the zero-padded string order, so clamp to 0
    val lo = f"${math.max(fromMs, 0L)}%013d#000000"
    // seq past 999999 still sorts BELOW "#999999" at the same atMs
    // ('1' < '9' at the first digit), so the hi bound stays inclusive
    val hi = f"${math.max(toMs, 0L)}%013d#999999"
    val writers = client.query(table, "writerId = :t",
      Map(":t" -> ("S", RegistryHash))).flatMap(_.get("eventKey")).map(_._2)
    toEvents(writers.flatMap(w =>
      client.query(table, "writerId = :t AND eventKey BETWEEN :lo AND :hi",
        Map(":t" -> ("S", w), ":lo" -> ("S", lo), ":hi" -> ("S", hi)))))
  }
}
