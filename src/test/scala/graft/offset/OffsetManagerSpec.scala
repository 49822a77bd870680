package graft.offset

import graft.SparkSpec

/** M12: incremental offsets — types, monotonic commit, persistence,
  * pushdown-friendly filters. */
class OffsetManagerSpec extends SparkSpec {
  import spark.implicits._

  test("offset ordering per type; cross-type comparison rejected") {
    import OffsetValue._
    assert(IntegralValue(5) < IntegralValue(7))
    assert(DateTimeValue(1000) < DateTimeValue(2000))
    assert(StringValue("a") < StringValue("b"))
    assertThrows[IllegalArgumentException](IntegralValue(1).compare(StringValue("x")))
    assert(fromString("integral", "42") == IntegralValue(42))
    assert(fromString("datetime", "1700000000000") == DateTimeValue(1700000000000L))
    assertThrows[IllegalArgumentException](fromString("uuid", "x"))
  }

  test("commit only advances forward") {
    val om = new OffsetManager()
    om.commit("t", OffsetValue.IntegralValue(10))
    om.commit("t", OffsetValue.IntegralValue(5)) // regression ignored
    assert(om.getLatestOffset("t").contains(OffsetValue.IntegralValue(10)))
    om.commit("t", OffsetValue.IntegralValue(20))
    assert(om.getLatestOffset("t").contains(OffsetValue.IntegralValue(20)))
  }

  test("offsets survive restart via the store dir") {
    val store = tmpDir("off_") + "/offsets"
    val om1 = new OffsetManager(Some(store))
    om1.commit("a", OffsetValue.IntegralValue(7))
    om1.commit("b", OffsetValue.StringValue("k9"))
    val om2 = new OffsetManager(Some(store))
    assert(om2.getLatestOffset("a").contains(OffsetValue.IntegralValue(7)))
    assert(om2.getLatestOffset("b").contains(OffsetValue.StringValue("k9")))
  }

  test("an offset store path that is a regular file fails at construction") {
    val store = tmpDir("offf_") + "/offsets"
    java.nio.file.Files.write(java.nio.file.Paths.get(store), "a\tintegral\t7\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](new OffsetManager(Some(store)))
    assert(e.getMessage.contains(store), e.getMessage)
  }

  test("two concurrent offset writers on shared storage: no corruption, max wins") {
    val store = tmpDir("offc_") + "/offsets"
    val omA = new OffsetManager(Some(store))
    val omB = new OffsetManager(Some(store))
    val threads = Seq(
      new Thread(() => (1 to 100).foreach(i => omA.commit("t", OffsetValue.IntegralValue(i.toLong)))),
      new Thread(() => (1 to 100).foreach(i => omB.commit("u", OffsetValue.IntegralValue(i.toLong * 2)))))
    threads.foreach(_.start()); threads.foreach(_.join())
    val fresh = new OffsetManager(Some(store))
    assert(fresh.getLatestOffset("t").contains(OffsetValue.IntegralValue(100L)))
    assert(fresh.getLatestOffset("u").contains(OffsetValue.IntegralValue(200L)))
  }

  test("concurrent commits to the SAME table never regress in memory (CAS loop)") {
    // the r17 predecessor did get-advance-put: a racing lower commit
    // could land last in the TrieMap and re-deliver an already-
    // committed window within the session. Hammer one table from many
    // threads committing interleaved values; the in-memory offset (not
    // just the durable reload) must end at the global max.
    val om = new OffsetManager() // memory-only: the store files were never at risk
    val threads = (0 until 8).map { t =>
      new Thread(() => (1 to 500).foreach { i =>
        om.commit("same", OffsetValue.IntegralValue((i * 8 + t).toLong))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(om.getLatestOffset("same").contains(OffsetValue.IntegralValue(4007L)),
      s"in-memory offset regressed: ${om.getLatestOffset("same")}")
    // kafka offsets merge per partition under the same loop
    val omK = new OffsetManager()
    val kThreads = (0 until 4).map { t =>
      new Thread(() => (1 to 200).foreach { i =>
        omK.commit("k", OffsetValue.KafkaValue(Map(t -> i.toLong)))
      })
    }
    kThreads.foreach(_.start()); kThreads.foreach(_.join())
    assert(omK.getLatestOffset("k").contains(
      OffsetValue.KafkaValue(Map(0 -> 200L, 1 -> 200L, 2 -> 200L, 3 -> 200L))),
      s"kafka merge lost a partition: ${omK.getLatestOffset("k")}")
  }

  test("incrementalFilter reads only past the committed offset and pushes down") {
    val dir = tmpDir("inc_")
    (1L to 100L).map(i => (i, s"r$i")).toDF("seq", "v")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val om = new OffsetManager()
    val info = OffsetInfo("seq", "integral")
    assert(om.incrementalFilter(df, info, "t").count() == 100) // no offset yet
    om.commit("t", OffsetValue.IntegralValue(90))
    val tail = om.incrementalFilter(df, info, "t")
    assert(tail.count() == 10)
    // the offset predicate must reach the parquet scan
    val scan = tail.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(seq,90)"),
      s"offset filter not pushed: $scan")
    // committing the new max advances the cursor
    om.maxOffset(tail, info).foreach(om.commit("t", _))
    assert(om.getLatestOffset("t").contains(OffsetValue.IntegralValue(100)))
    assert(om.incrementalFilter(df, info, "t").count() == 0)
  }

  /** Delegate that counts store round-trips — the property the cached
    * wrapper exists for. */
  private class CountingStore extends OffsetStore {
    val inner = new OffsetManager()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    override def getLatestOffset(table: String): Option[OffsetValue] = {
      reads.incrementAndGet(); inner.getLatestOffset(table)
    }
    override def commit(table: String, offset: OffsetValue): Unit = {
      commits.incrementAndGet(); inner.commit(table, offset)
    }
  }

  test("cached store: at most one delegate read per table per run; own commits visible") {
    val store = new CountingStore
    val c = new OffsetStoreCached(store)
    (1 to 50).foreach(_ => c.getLatestOffset("a"))
    (1 to 50).foreach(_ => c.getLatestOffset("b"))
    assert(store.reads.get == 2, s"one read per table, got ${store.reads.get}")
    // commits write through AND become visible to this run's reads
    c.commit("a", OffsetValue.IntegralValue(7))
    assert(store.commits.get == 1)
    assert(c.getLatestOffset("a").contains(OffsetValue.IntegralValue(7)))
    assert(store.inner.getLatestOffset("a").contains(OffsetValue.IntegralValue(7)),
      "the commit must land in the delegate, not just the cache")
    // the monotonic no-op holds through the cache too
    c.commit("a", OffsetValue.IntegralValue(3))
    assert(c.getLatestOffset("a").contains(OffsetValue.IntegralValue(7)))
    assert(store.reads.get == 2, s"commits on a read table add no reads: ${store.reads.get}")
  }

  test("cached store: commit on a never-read table takes the POST-commit store view") {
    // a pre-existing HIGHER store offset must never be shadowed by our
    // lower commit — that would re-deliver its window on the next read
    val store = new CountingStore
    store.inner.commit("t", OffsetValue.IntegralValue(100))
    val c = new OffsetStoreCached(store)
    c.commit("t", OffsetValue.IntegralValue(50)) // delegate ignores (monotonic)
    assert(c.getLatestOffset("t").contains(OffsetValue.IntegralValue(100)),
      "the cache must hold the store's view, not the shadowing lower commit")
    assert(store.reads.get == 1, s"the post-commit view costs one read: ${store.reads.get}")
  }

  test("cached store: 8-way same-table commit hammer keeps CAS semantics end to end") {
    val store = new CountingStore
    val c = new OffsetStoreCached(store)
    val threads = (0 until 8).map { t =>
      new Thread(() => (1 to 500).foreach { i =>
        c.commit("same", OffsetValue.IntegralValue((i * 8 + t).toLong))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val max = OffsetValue.IntegralValue(4007L)
    assert(c.getLatestOffset("same").contains(max),
      s"cached view regressed: ${c.getLatestOffset("same")}")
    assert(store.inner.getLatestOffset("same").contains(max),
      s"delegate regressed: ${store.inner.getLatestOffset("same")}")
    // kafka offsets merge per partition through the cache as well
    val cK = new OffsetStoreCached(new CountingStore)
    val kThreads = (0 until 4).map { t =>
      new Thread(() => (1 to 200).foreach { i =>
        cK.commit("k", OffsetValue.KafkaValue(Map(t -> i.toLong)))
      })
    }
    kThreads.foreach(_.start()); kThreads.foreach(_.join())
    assert(cK.getLatestOffset("k").contains(
      OffsetValue.KafkaValue(Map(0 -> 200L, 1 -> 200L, 2 -> 200L, 3 -> 200L))),
      s"kafka merge lost a partition through the cache: ${cK.getLatestOffset("k")}")
  }
}
