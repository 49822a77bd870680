package graft.dynamo

import java.time.LocalDate

import graft.databricks.{HttpTransport, Json}
import graft.pipeline.RunRecord
import org.scalatest.funsuite.AnyFunSuite

/** DynamoDB bookkeeping over the HTTP seam: SigV4 pinned against the
  * AWS documentation's own test vector, request shapes + signature
  * round-trip verified by a scripted in-memory DynamoDB, and the
  * BookkeeperStore semantics (newest-wins, skip-if-done,
  * cross-instance visibility, pagination). */
class DynamoSpec extends AnyFunSuite {

  private val d = LocalDate.parse("2024-04-01")

  test("SigV4: the public AWS docs test vector reproduces exactly") {
    // docs.aws.amazon.com 'Signature Version 4 signing process' example:
    // GET https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08
    val headers = Seq(
      "Content-Type" -> "application/x-www-form-urlencoded; charset=utf-8",
      "Host" -> "iam.amazonaws.com",
      "X-Amz-Date" -> "20150830T123600Z")
    val creq = SigV4.canonicalRequest("GET", "/",
      "Action=ListUsers&Version=2010-05-08", headers, SigV4.sha256Hex(Array.empty))
    assert(SigV4.sha256Hex(creq.getBytes("UTF-8")) ==
      "f536975d06c0309214f805bb90ccff089219ecd68b2577efef23edd43b7e1a59",
      s"canonical request drifted:\n$creq")
    val auth = SigV4.authorization("GET", "/", "Action=ListUsers&Version=2010-05-08",
      headers, Array.empty, "AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
      "us-east-1", "iam", "20150830T123600Z")
    assert(auth.endsWith(
      "Signature=5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7"), auth)
    assert(auth.contains("Credential=AKIDEXAMPLE/20150830/us-east-1/iam/aws4_request"), auth)
    assert(auth.contains("SignedHeaders=content-type;host;x-amz-date"), auth)
  }

  /** In-memory DynamoDB speaking the wire protocol: routes on
    * X-Amz-Target, VERIFIES each request's signature by re-deriving it
    * with the shared secret (a header-ordering or hashing bug anywhere
    * in the client fails every call), and implements the subset the
    * bookkeeper uses, including Query pagination. */
  private final class FakeDynamo(pageSize: Int = 1000) extends HttpTransport {
    val tables = collection.mutable.Map.empty[String, collection.mutable.ArrayBuffer[Map[String, (String, String)]]]
    /** >0: that many DescribeTable calls answer TableStatus=CREATING. */
    var creatingPolls = 0
    // table -> (hashKey, rangeKey) from CreateTable: PutItem REPLACES
    // by primary key like the real service, not append
    val keySchemas = collection.mutable.Map.empty[String, (String, Option[String])]
    var calls = 0
    /** Items that crossed the wire in Query/Scan responses — what the
      * journal window-pushdown spec counts (RCU-proportional). */
    var itemsReturned = 0

    private def attr(av: Any): (String, String) = {
      val m = av.asInstanceOf[Map[String, Any]].head
      (m._1, String.valueOf(m._2))
    }

    /** ConditionExpression subset evaluator: OR of terms, each an AND
      * of `attribute_not_exists(a)` / `a = :v` / `a < :v` atoms, with
      * optional parens around a term — covers the offset store's
      * monotonic guard and both lock conditions. */
    private def condOk(req: Map[String, Any],
                       existing: Option[Map[String, (String, String)]]): Boolean =
      req.get("ConditionExpression").forall { c =>
        val vals = req.get("ExpressionAttributeValues")
          .map(_.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> attr(v) })
          .getOrElse(Map.empty[String, (String, String)])
        c.asInstanceOf[String].split(" OR ").exists { term =>
          term.trim.stripPrefix("(").stripSuffix(")").split(" AND ").forall { atom0 =>
            val atom = atom0.trim
            if (atom.startsWith("attribute_not_exists")) existing.isEmpty
            else {
              val m = "(\\w+)\\s*(=|<)\\s*(:\\w+)".r.findFirstMatchIn(atom)
                .getOrElse(sys.error(s"unparsed condition atom: $atom"))
              val (tpe, v) = vals(m.group(3))
              existing.exists(_.get(m.group(1)).exists { case (etpe, ev) =>
                require(etpe == tpe, s"type mismatch $etpe vs $tpe")
                m.group(2) match {
                  case "=" => ev == v
                  case "<" => if (tpe == "N") BigDecimal(ev) < BigDecimal(v) else ev < v
                }
              })
            }
          }
        }
      }

    override def post(url: String, body: String, headers: Map[String, String]): (Int, String) = {
      calls += 1
      // signature round-trip: re-derive with the same inputs
      val amzDate = headers("X-Amz-Date")
      val expect = SigV4.authorization("POST", "/", "",
        Seq("content-type" -> headers("Content-Type"),
          "host" -> java.net.URI.create(url).getAuthority,
          "x-amz-date" -> amzDate,
          "x-amz-target" -> headers("X-Amz-Target")),
        body.getBytes("UTF-8"), "AK", "SK", "eu-west-1", "dynamodb", amzDate)
      if (headers("Authorization") != expect)
        return (403, """{"__type":"InvalidSignatureException"}""")
      val req = Json.parseObj(body)
      val tname = req("TableName").asInstanceOf[String]
      headers("X-Amz-Target").stripPrefix("DynamoDB_20120810.") match {
        case "DescribeTable" =>
          if (tables.contains(tname)) {
            // scriptable CREATING phase (real CreateTable is async):
            // the first `creatingPolls` describes answer CREATING
            val status = if (creatingPolls > 0) { creatingPolls -= 1; "CREATING" } else "ACTIVE"
            (200, s"""{"Table": {"TableName": ${Json.str(tname)}, "TableStatus": ${Json.str(status)}}}""")
          }
          else (400, """{"__type":"com.amazonaws.dynamodb.v20120810#ResourceNotFoundException"}""")
        case "CreateTable" =>
          tables.getOrElseUpdate(tname, collection.mutable.ArrayBuffer.empty)
          val keys = req("KeySchema").asInstanceOf[List[Any]]
            .map(_.asInstanceOf[Map[String, Any]])
            .map(m => m("KeyType").asInstanceOf[String] -> m("AttributeName").asInstanceOf[String])
            .toMap
          keySchemas(tname) = (keys("HASH"), keys.get("RANGE"))
          (200, "{}")
        case "PutItem" =>
          val item = req("Item").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> attr(v) }
          val (hk, rk) = keySchemas.getOrElse(tname, ("tableName", Some("infoDateSortKey")))
          def keyOf(i: Map[String, (String, String)]) = (i.get(hk), rk.flatMap(i.get))
          val buf = tables(tname)
          val existingIdx = buf.indexWhere(keyOf(_) == keyOf(item))
          val existing = if (existingIdx < 0) None else Some(buf(existingIdx))
          if (!condOk(req, existing))
            (400, """{"__type":"com.amazonaws.dynamodb.v20120810#ConditionalCheckFailedException"}""")
          else {
            if (existingIdx >= 0) buf(existingIdx) = item else buf += item
            (200, "{}")
          }
        case "DeleteItem" =>
          val key = req("Key").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> attr(v) }
          val (hk, rk) = keySchemas.getOrElse(tname, ("tableName", Some("infoDateSortKey")))
          def keyOf(i: Map[String, (String, String)]) = (i.get(hk), rk.flatMap(i.get))
          val buf = tables(tname)
          val idx = buf.indexWhere(keyOf(_) == keyOf(key))
          // a conditioned delete on a MISSING item fails the condition
          // (real-service semantics the lock's release relies on)
          if (!condOk(req, if (idx < 0) None else Some(buf(idx))))
            (400, """{"__type":"com.amazonaws.dynamodb.v20120810#ConditionalCheckFailedException"}""")
          else {
            if (idx >= 0) buf.remove(idx)
            (200, "{}")
          }
        case "Query" =>
          val vals = req("ExpressionAttributeValues").asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> attr(v)._2 }
          val cond = req("KeyConditionExpression").asInstanceOf[String]
          // hash key attribute parsed from the condition (bookkeeping
          // queries on tableName, lock queries on lockToken)
          val keyAttr = "(\\w+)\\s*=\\s*:t".r.findFirstMatchIn(cond)
            .map(_.group(1)).getOrElse("tableName")
          val base = tables(tname).filter(_.get(keyAttr).exists(_._2 == vals(":t")))
          val selected =
            if (cond.contains("begins_with"))
              base.filter(_.get("infoDateSortKey").exists(_._2.startsWith(vals(":p"))))
            else if (cond.contains("BETWEEN")) {
              // range-key window (the journal's entries(from, to)):
              // `attr BETWEEN :lo AND :hi`, inclusive, string order
              val m = "(\\w+)\\s+BETWEEN\\s+:lo\\s+AND\\s+:hi".r.findFirstMatchIn(cond)
                .getOrElse(sys.error(s"unparsed BETWEEN condition: $cond"))
              base.filter(_.get(m.group(1)).exists(v =>
                v._2 >= vals(":lo") && v._2 <= vals(":hi")))
            } else base
          page(tname, selected.toSeq, req)
        case "Scan" =>
          page(tname, tables(tname).toSeq, req)
        case other => (400, s"""{"__type":"UnknownOperationException","op":"$other"}""")
      }
    }

    private def encode(item: Map[String, (String, String)]): String =
      Json.obj(item.toSeq.sortBy(_._1).map { case (k, (t, v)) =>
        k -> Json.obj(t -> Json.str(v))
      }: _*)

    private def page(tname: String, items: Seq[Map[String, (String, String)]], req: Map[String, Any]): (Int, String) = {
      // paginate by the table's FULL primary key like the real service
      // (journal pages by (writerId, eventKey), bookkeeping by
      // (tableName, infoDateSortKey)) — an infoDateSortKey-only resume
      // would silently mis-page any other table's multi-page reads
      val (hk, rk) = keySchemas.getOrElse(tname, ("tableName", Some("infoDateSortKey")))
      def keyOf(i: Map[String, (String, String)]): (String, String) =
        (i.get(hk).map(_._2).getOrElse(""), rk.flatMap(i.get).map(_._2).getOrElse(""))
      val sorted = items.sortBy(keyOf)
      val start = req.get("ExclusiveStartKey").map { k =>
        val km = k.asInstanceOf[Map[String, Any]].map { case (a, v) => a -> attr(v)._2 }
        val sk = (km.getOrElse(hk, ""), rk.map(km.getOrElse(_, "")).getOrElse(""))
        sorted.indexWhere(keyOf(_) == sk) + 1
      }.getOrElse(0)
      val slice = sorted.slice(start, start + pageSize)
      itemsReturned += slice.length
      val last = if (start + pageSize < sorted.length && slice.nonEmpty)
        s""", "LastEvaluatedKey": ${encode(
          Map(hk -> slice.last(hk)) ++ rk.map(r => r -> slice.last(r)))}"""
      else ""
      (200, s"""{"Items": [${slice.map(encode).mkString(",")}]$last}""")
    }

    override def get(url: String, headers: Map[String, String]): (Int, String) =
      throw new IllegalStateException("DynamoDB data plane is POST-only")
  }

  private def client(fake: FakeDynamo) = new DynamoDbClient(
    "https://dynamodb.eu-west-1.amazonaws.com", "eu-west-1", "AK", "SK", fake)

  test("bookkeeper: table auto-created, newest attempt wins, skip-if-done, cross-instance visibility") {
    val fake = new FakeDynamo()
    val bk = new BookkeeperDynamo(client(fake))
    assert(fake.tables.contains("graft_bookkeeping"), "ensureTable must create on first use")
    bk.record(RunRecord("t", d, 1, "failed", 1, 100))
    bk.record(RunRecord("t", d, 2, "succeeded", 2, 200))
    bk.record(RunRecord("t", d.plusDays(1), 3, "skipped", 3, 300))
    bk.record(RunRecord("u", d, 9, "failed", 4, 400))
    assert(bk.get("t", d).map(_.recordCount).contains(2L), "newest attempt must win")
    assert(bk.isAlreadyRan("t", d) && bk.isAlreadyRan("t", d.plusDays(1)),
      "succeeded and skipped are both durably done")
    assert(!bk.isAlreadyRan("u", d))
    assert(bk.latestSuccess("t").contains(d))
    assert(bk.latestSuccessRecord("t", d).map(_.recordCount).contains(2L))
    assert(bk.all.size == 3, "one reduced record per (table, date)")
    // a second driver instance sees everything through storage
    val bk2 = new BookkeeperDynamo(client(fake))
    assert(bk2.isAlreadyRan("t", d))
  }

  test("query pagination: a journal larger than one page reads complete") {
    val fake = new FakeDynamo(pageSize = 7)
    val bk = new BookkeeperDynamo(client(fake))
    (0 until 23).foreach(i =>
      bk.record(RunRecord("t", d.plusDays(i.toLong), i.toLong, "succeeded", i.toLong, i.toLong)))
    assert(bk.all.size == 23, "LastEvaluatedKey pagination must be followed")
    assert(bk.latestSuccess("t").contains(d.plusDays(22)))
  }

  test("config: bookkeeping.dynamodb.* parses lazily; missing required keys fail the LOAD") {
    val parsed = graft.pipeline.PipelineConfig.parse(
      """bookkeeping.dynamodb.endpoint = https://dynamodb.eu-west-1.amazonaws.com
        |bookkeeping.dynamodb.region = eu-west-1
        |bookkeeping.dynamodb.access.key = AK
        |bookkeeping.dynamodb.secret.key = SK
        |allow.empty.pipeline = true
        |""".stripMargin)
    assert(parsed.dynamoBookkeeping.isDefined, "factory must be declared")
    val e = intercept[IllegalArgumentException](graft.pipeline.PipelineConfig.parse(
      """bookkeeping.dynamodb.endpoint = https://dynamodb.eu-west-1.amazonaws.com
        |allow.empty.pipeline = true
        |""".stripMargin))
    assert(e.getMessage.contains("bookkeeping.dynamodb.region"), e.getMessage)
  }

  test("offsets: server-side monotonic commits — stale commits no-op, types round-trip") {
    import graft.offset.OffsetValue
    val fake = new FakeDynamo()
    val os = new OffsetStoreDynamo(client(fake))
    assert(os.getLatestOffset("ev").isEmpty)
    os.commit("ev", OffsetValue.IntegralValue(100L))
    os.commit("ev", OffsetValue.IntegralValue(50L))   // stale: conditional put rejects
    assert(os.getLatestOffset("ev").contains(OffsetValue.IntegralValue(100L)),
      "a lower offset must never overwrite (condition evaluated server-side)")
    os.commit("ev", OffsetValue.IntegralValue(250L))
    assert(os.getLatestOffset("ev").contains(OffsetValue.IntegralValue(250L)))
    // numeric comparison, not lexicographic: 1000 > 999 even though "1000" < "999"
    os.commit("n", OffsetValue.IntegralValue(999L))
    os.commit("n", OffsetValue.IntegralValue(1000L))
    assert(os.getLatestOffset("n").contains(OffsetValue.IntegralValue(1000L)),
      "N attributes must compare numerically")
    os.commit("s", OffsetValue.StringValue("2024-01-02"))
    os.commit("s", OffsetValue.StringValue("2024-01-01"))
    assert(os.getLatestOffset("s").contains(OffsetValue.StringValue("2024-01-02")))
    os.commit("ts", OffsetValue.DateTimeValue(1700000000000L))
    assert(os.getLatestOffset("ts").contains(OffsetValue.DateTimeValue(1700000000000L)))
  }

  test("an EXISTING table still in CREATING state is awaited, not written to (r17 review)") {
    // driver A issued CreateTable seconds ago (table exists, CREATING);
    // driver B's ensureTable used to skip the ACTIVE wait on the
    // exists path and B's first PutItem died with ResourceNotFound
    val fake = new FakeDynamo()
    val c = client(fake)
    c.createTable("graft_bookkeeping", "tableName", Some("infoDateSortKey"))
    fake.creatingPolls = 2 // the next driver sees CREATING twice
    val bk = new BookkeeperDynamo(c) // constructor ensureTable must wait
    assert(fake.creatingPolls == 0, "ensureTable must poll through the CREATING phase")
    bk.record(graft.pipeline.RunRecord("t", d, 1L, "succeeded", 1L, 2L))
    assert(bk.get("t", d).map(_.recordCount).contains(1L))
  }

  test("a corrupted signature is rejected by the fake — the signature check is real") {
    val fake = new FakeDynamo()
    val bad = new DynamoDbClient(
      "https://dynamodb.eu-west-1.amazonaws.com", "eu-west-1", "AK", "WRONG-SECRET", fake)
    val e = intercept[RuntimeException](
      bad.call("DescribeTable", Json.obj("TableName" -> Json.str("x"))))
    assert(e.getMessage.contains("403"), e.getMessage)
  }

  test("token lock: conditional-put arbitration, stale-break, owner-predicated release") {
    val fake = new FakeDynamo()
    val c = client(fake)
    var now = 1000L
    val clock = () => now
    def lock() = new TokenLockDynamo(c, "sales_2024-04-01",
      staleMs = 60000L, nowMs = clock)
    val a = lock()
    assert(a.tryAcquire(), "first acquisition wins the conditional put")
    val b = lock()
    assert(!b.tryAcquire(), "a held fresh lock rejects the second driver")
    // release is owner-predicated: B cannot free A's lock
    b.release()
    assert(!lock().tryAcquire(), "B's release must not free A's lock")
    // past staleMs: the next contender breaks and takes atomically
    now += 61000L
    assert(b.tryAcquire(), "a stale lock is broken and re-acquired")
    // A's release (old owner) is now a no-op against B's row
    a.release()
    assert(!lock().tryAcquire(), "A's stale release must not free B's lock")
    b.release()
    assert(lock().tryAcquire(), "the owner's release frees the token")
  }

  test("token lock: stale-break loses to a competing breaker (conditional replace, no window)") {
    val fake = new FakeDynamo()
    val c = client(fake)
    var now = 1000L
    val a = new TokenLockDynamo(c, "t_d", staleMs = 1000L, nowMs = () => now)
    assert(a.tryAcquire())
    now += 5000L // a is stale
    // B reads the stale row (the observation a breaker predicates on) …
    val observed = c.query("graft_locks", "lockToken = :t", Map(":t" -> ("S", "t_d"))).head
    // … but C breaks and re-acquires FIRST
    assert(new TokenLockDynamo(c, "t_d", staleMs = 1000L, nowMs = () => now).tryAcquire())
    // B's conditional replace against the OLD (owner, acquiredAtMs)
    // must fail — C's fresh acquisition is never clobbered
    assert(!c.putItem("graft_locks", Map(
      "lockToken" -> ("S", "t_d"),
      "lockOwner" -> ("S", "B"),
      "acquiredAtMs" -> ("N", now.toString)),
      condition = Some((
        "attribute_not_exists(lockToken) OR (lockOwner = :o AND acquiredAtMs = :a)",
        Map(":o" -> observed("lockOwner"), ":a" -> observed("acquiredAtMs"))))),
      "the predicated replace must lose once the row changed")
  }

  test("token lock: a database outage surfaces as an error, never as 'held'") {
    val dead = new HttpTransport {
      override def post(url: String, body: String, headers: Map[String, String]) =
        (500, """{"__type":"InternalServerError"}""")
      override def get(url: String, headers: Map[String, String]) =
        throw new IllegalStateException("POST-only")
    }
    val c = new DynamoDbClient("https://dynamodb.eu-west-1.amazonaws.com",
      "eu-west-1", "AK", "SK", dead)
    val e = intercept[RuntimeException](
      new TokenLockDynamo(c, "t_d", ensureTable = false).tryAcquire())
    assert(e.getMessage.contains("500"), e.getMessage)
  }

  test("journal: every event keeps an item; completion order holds across writers") {
    import graft.pipeline.TaskEvent
    val fake = new FakeDynamo()
    val c = client(fake)
    // explicit writer ids: since r20 all default-id instances in a JVM
    // share ONE process writer identity — distinct ids simulate
    // distinct processes
    val a = new JournalDynamo(c, writerIdOverride = Some("w_a"))
    val b = new JournalDynamo(c, writerIdOverride = Some("w_b"))
    assert(fake.tables.contains("graft_journal"), "the journal table must auto-create")
    a.append(TaskEvent("p", "j1", "t", Some(d), "succeeded", 10L, "", 100L))
    b.append(TaskEvent("p", "j2", "t", Some(d), "failed", 0L, "boom", 200L))
    a.append(TaskEvent("p", "j1", "t", Some(d), "succeeded", 12L, "re-run", 300L))
    b.append(TaskEvent("p", "j3", "t", None, "skipped", 0L, "done", 250L))
    val all = new JournalDynamo(c).all
    assert(all.map(_.job) == Seq("j1", "j2", "j3", "j1"), all.map(_.job).toString)
    assert(all.count(_.job == "j1") == 2, "re-runs must both stay visible")
    assert(all(2).infoDate.isEmpty && all(1).detail == "boom")
    // same-writer same-millisecond events order by seq (the range key)
    val z = new JournalDynamo(c)
    z.append(TaskEvent("p", "first", "t", None, "succeeded", 1L, "", 999L))
    z.append(TaskEvent("p", "second", "t", None, "succeeded", 2L, "", 999L))
    val tail = new JournalDynamo(c).all.takeRight(2).map(_.job)
    assert(tail == Seq("first", "second"), tail.toString)
  }

  test("journal window: entries(from,to) pushes the range-key BETWEEN - months never cross the wire") {
    import graft.pipeline.TaskEvent
    // pageSize 7: window Queries must survive LastEvaluatedKey resumes
    // keyed by the journal's OWN (writerId, eventKey) primary key
    val fake = new FakeDynamo(pageSize = 7)
    val c = client(fake)
    val (a, b) = (new JournalDynamo(c, writerIdOverride = Some("w_a")),
      new JournalDynamo(c, writerIdOverride = Some("w_b")))
    // ~100 days of history across two writers, one event each per 12h
    val day = 86400000L
    val base = 1700000000000L
    (0 until 200).foreach { i =>
      val w = if (i % 2 == 0) a else b
      w.append(TaskEvent("p", s"j$i", "t", None, "succeeded", i.toLong, "", base + i * (day / 2)))
    }
    val (fromMs, toMs) = (base + 40 * day, base + 41 * day) // one night
    val before = fake.itemsReturned
    val win = new JournalDynamo(c).entries(fromMs, toMs)
    val wireItems = fake.itemsReturned - before
    val expect = (0 until 200).filter(i =>
      base + i * (day / 2) >= fromMs && base + i * (day / 2) <= toMs)
    assert(win.map(_.records) == expect.map(_.toLong), win.map(_.records).toString)
    // wire cost = the 2 registry items + exactly the window's events,
    // NOT the 200-event history (the full-reload shape this replaces)
    assert(wireItems == 2 + expect.size,
      s"window read must not reload history: $wireItems items for ${expect.size} events")
    // inclusive bounds + the FS completion-order contract hold
    assert(win.head.atMs == fromMs && win.last.atMs <= toMs)
    assert(win == win.sortBy(e => e.atMs), "completion order")
    // registry items never surface through all(); empty window is empty
    assert(new JournalDynamo(c).all.size == 200)
    assert(new JournalDynamo(c).entries(5, 1).isEmpty)
    // a month-wide window spans multiple fake pages per writer (25
    // events each vs pageSize 7): the BETWEEN Query must resume through
    // LastEvaluatedKey without dropping or repeating events
    val wide = new JournalDynamo(c).entries(base + 40 * day, base + 65 * day)
    val expectWide = (0 until 200).filter(i =>
      base + i * (day / 2) >= base + 40 * day && base + i * (day / 2) <= base + 65 * day)
    assert(wide.map(_.records) == expectWide.map(_.toLong),
      s"pagination must not drop/repeat: got ${wide.size}, want ${expectWide.size}")
  }

  test("journal window: a failed registration retries on the next append - events never go invisible") {
    import graft.pipeline.TaskEvent
    // review finding r19: a CAS-before-put spelling marked a FAILED
    // registry write done; every retried event then landed under a
    // writer no window read could find. The flag must flip only after
    // the put succeeds.
    val fake = new FakeDynamo()
    var failPuts = 0
    val flaky = new HttpTransport {
      override def post(url: String, body: String, headers: Map[String, String]) =
        if (failPuts > 0 && body.contains("__writers__")) {
          failPuts -= 1; (500, """{"__type":"InternalServerError"}""")
        } else fake.post(url, body, headers)
      override def get(url: String, headers: Map[String, String]) = fake.get(url, headers)
    }
    val c = new DynamoDbClient("https://dynamodb.eu-west-1.amazonaws.com", "eu-west-1",
      "AK", "SK", flaky)
    // distinct explicit ids: the default id is process-wide since r20,
    // and a SHARED id would mask the bug (other's registration covers j)
    val other = new JournalDynamo(c, writerIdOverride = Some("w_other"))
    other.append(TaskEvent("p", "other", "t", None, "succeeded", 0L, "", 50L))
    val j = new JournalDynamo(c, writerIdOverride = Some("w_j"))
    failPuts = 1
    intercept[Exception](
      j.append(TaskEvent("p", "j1", "t", None, "succeeded", 1L, "", 100L)))
    // the retry must re-attempt registration, then write the event
    j.append(TaskEvent("p", "j1", "t", None, "succeeded", 1L, "", 100L))
    val win = new JournalDynamo(c).entries(60L, 150L)
    assert(win.map(_.job) == Seq("j1"), s"retried event must be window-visible: $win")
  }

  test("token lock: 8-way same-token race admits exactly one winner") {
    val fake = new FakeDynamo()
    // the scripted fake is single-threaded by design; a synchronized
    // wrapper models the service's per-request atomicity so the RACE
    // (not the fake's thread-safety) is what the test exercises
    val serial = new HttpTransport {
      override def post(url: String, body: String, headers: Map[String, String]) =
        fake.synchronized(fake.post(url, body, headers))
      override def get(url: String, headers: Map[String, String]) =
        fake.synchronized(fake.get(url, headers))
    }
    val c = new DynamoDbClient(
      "https://dynamodb.eu-west-1.amazonaws.com", "eu-west-1", "AK", "SK", serial)
    c.ensureTableActive("graft_locks", "lockToken")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        if (new TokenLockDynamo(c, "hot_2024-04-01", ensureTable = false).tryAcquire())
          wins.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get == 1, s"exactly one of 8 racers must win, got ${wins.get}")
  }
}
