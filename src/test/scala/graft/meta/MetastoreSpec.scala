package graft.meta

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** M1–M5: metastore storage, partition schemes, range/latest reads,
  * stats, restricted reader. */
class MetastoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshMs(scheme: PartitionScheme = PartitionScheme.ByDay,
                      name: String = "t"): (Metastore, MetaTable) = {
    val ms = new Metastore(spark)
    val t = MetaTable(name, tmpDir("ms_") + s"/$name", scheme = scheme)
    ms.register(t)
    (ms, t)
  }

  private val d1 = LocalDate.parse("2024-06-01")
  private val d2 = LocalDate.parse("2024-06-02")
  private val d3 = LocalDate.parse("2024-06-03")

  private def data(tag: String, n: Int) =
    (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag")

  test("M1 roundtrip: save one day, read it back with info_date attached") {
    val (ms, _) = freshMs()
    val stats = ms.saveTable("t", d1, data("a", 5))
    assert(stats.recordCount == 5)
    val back = ms.getTable("t", Some(d1), Some(d1))
    assert(back.count() == 5)
    assert(back.columns.contains("info_date"))
    assert(back.select("tag").distinct().as[String].collect().toSeq == Seq("a"))
  }

  test("M1b batchid column: appended batches stay individually addressable") {
    val path = tmpDir("msb_") + "/t"
    val table = MetaTable("t", path, batchIdColumn = Some("graft_batchid"))
    // two runs (two Metastore instances = two batch ids) append into
    // the SAME day partition
    val run1 = new Metastore(spark, batchId = 1001L)
    run1.register(table)
    run1.saveTable("t", d1, data("a", 3))
    val run2 = new Metastore(spark, batchId = 1002L)
    run2.register(table)
    run2.saveTable("t", d1, data("b", 2), org.apache.spark.sql.SaveMode.Append)

    // whole slice sees both batches, each stamped with its run
    val slice = run2.getTable("t", Some(d1), Some(d1))
    assert(slice.count() == 5)
    assert(slice.select("graft_batchid").distinct().as[Long].collect().toSet == Set(1001L, 1002L))

    // getBatch defaults to the CURRENT run's rows; explicit id reads a
    // historical batch
    val reader = run2.readerFor(None, currentInfoDate = Some(d1))
    assert(reader.getBatch("t", d1).select("tag").distinct().as[String].collect().toSeq == Seq("b"))
    assert(reader.getBatch("t", d1, Some(1001L)).count() == 3)

    // a table WITHOUT the column is untouched and getBatch degrades to
    // the full slice
    val (plain, _) = freshMs(name = "p")
    plain.saveTable("p", d1, data("x", 2))
    assert(!plain.getTable("p", Some(d1), Some(d1)).columns.contains("graft_batchid"))
    assert(plain.readerFor(None, currentInfoDate = Some(d1)).getBatch("p", d1).count() == 2)
  }

  test("M2 range read prunes partitions at plan time (ByDay)") {
    val (ms, _) = freshMs()
    ms.saveTable("t", d1, data("a", 3))
    ms.saveTable("t", d2, data("b", 4))
    ms.saveTable("t", d3, data("c", 5))
    val df = ms.getTable("t", Some(d1), Some(d2))
    assert(df.count() == 7)
    // physical plan must carry the range as a partition filter, and the
    // post-pruning scan must touch only the two matching partitions
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("info_date"),
      s"no partition filter in scan: $scan")
    val parts = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }
    assert(parts == Seq(2), s"expected 2 selected partitions, got $parts")
  }

  test("M3 getLatest returns newest partition at/before `until`") {
    val (ms, _) = freshMs()
    ms.saveTable("t", d1, data("a", 1))
    ms.saveTable("t", d3, data("c", 2))
    assert(ms.getLatest("t").select("tag").distinct().as[String].head() == "c")
    assert(ms.getLatest("t", Some(d2)).select("tag").distinct().as[String].head() == "a")
    assertThrows[NoSuchElementException](ms.getLatest("t", Some(d1.minusDays(1))))
  }

  test("M4 month/year/unpartitioned/overwrite schemes") {
    val (msM, _) = freshMs(PartitionScheme.ByMonth(), "m")
    msM.saveTable("m", d1, data("a", 2))
    msM.saveTable("m", LocalDate.parse("2024-07-01"), data("b", 3))
    assert(msM.getTable("m").count() == 5)
    assert(msM.getTable("m", Some(LocalDate.parse("2024-07-01"))).count() == 3)

    val (msY, _) = freshMs(PartitionScheme.ByYear(), "y")
    msY.saveTable("y", d1, data("a", 2))
    assert(msY.getTable("y").columns.toSet == Set("id", "tag", "info_date"))

    val (msN, _) = freshMs(PartitionScheme.NotPartitioned, "n")
    msN.saveTable("n", d1, data("a", 2))
    msN.saveTable("n", d2, data("b", 2))
    assert(msN.getTable("n").count() == 4) // append semantics

    val (msO, _) = freshMs(PartitionScheme.Overwrite, "o")
    msO.saveTable("o", d1, data("a", 2))
    msO.saveTable("o", d2, data("b", 3))
    assert(msO.getTable("o").count() == 3) // snapshot semantics
  }

  test("M5 re-saving a day replaces only that day (dynamic overwrite) + stats") {
    val (ms, _) = freshMs()
    ms.saveTable("t", d1, data("a", 3))
    ms.saveTable("t", d2, data("b", 4))
    ms.saveTable("t", d1, data("a2", 7)) // re-run day 1
    assert(ms.getTable("t", Some(d1), Some(d1)).count() == 7)
    assert(ms.getTable("t", Some(d2), Some(d2)).count() == 4)
    assert(ms.getStats("t", d1).map(_.recordCount).contains(7L))
    assert(ms.getStats("t", d1).flatMap(_.sizeBytes).exists(_ > 0))
    assert(ms.listAvailableDates("t") == Seq(d1, d2))
  }

  test("restricted reader rejects undeclared tables") {
    val (ms, _) = freshMs()
    ms.saveTable("t", d1, data("a", 1))
    val reader = ms.readerFor(Some(Set("t")))
    assert(reader.getTable("t").count() == 1)
    assertThrows[IllegalArgumentException](reader.getTable("other"))
  }

  test("M6 schema changes across saves are tracked, diffed, and persisted") {
    val (ms, tbl) = freshMs(name = "ev")
    ms.saveTable("ev", d1, data("a", 1))
    ms.saveTable("ev", d2, data("a", 1)) // same schema -> no new version
    ms.saveTable("ev", d3, data("a", 1).withColumn("extra", lit(5)))
    assert(ms.schemaHistory("ev").map(_._1) == Seq(d1, d3))
    val changes = ms.schemaChanges("ev")
    assert(changes.size == 1)
    assert(changes.head._1 == d3)
    assert(changes.head._2 == Seq(FieldChange.Added("extra", "int")))
    // a fresh Metastore instance recovers the persisted history
    val ms2 = new Metastore(spark)
    ms2.register(tbl)
    assert(ms2.schemaHistory("ev").map(_._1) == Seq(d1, d3))
    assert(ms2.schemaChanges("ev").head._2 == Seq(FieldChange.Added("extra", "int")))
    // the _graft dir stays invisible to table reads
    assert(ms2.getTable("ev").count() == 3)
  }

  test("M3b ByDay date listing launches NO Spark job (directory listing only)") {
    val (ms, _) = freshMs(name = "nolist")
    ms.saveTable("nolist", d1, data("a", 2))
    ms.saveTable("nolist", d3, data("b", 2))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(ms.listAvailableDates("nolist") == Seq(d1, d3))
      Thread.sleep(500)
      assert(jobs.get() == 0, s"date listing launched ${jobs.get()} Spark job(s); must be metadata-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("M2b bounded ByDay read launches no listing job") {
    val path = tmpDir("ms40_") + "/long"
    val ms = new Metastore(spark)
    ms.register(MetaTable("long", path))
    // 40 day directories: a whole-table read passes more than Spark's
    // 32-path threshold, so Spark would list them with a Spark job
    val first = LocalDate.parse("2024-01-01")
    def perDay(i: Int) = i % 3 + 1
    val rows = (0 until 40).flatMap(i =>
      (1 to perDay(i)).map(j => (i * 10L + j, java.sql.Date.valueOf(first.plusDays(i.toLong)))))
    ms.appendTable("long", rows.toDF("id", "ev"), "ev")
    val listings = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        // suites share the session: count only this table's listings
        if (desc.startsWith("Listing leaf files") && desc.contains(path)) listings.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val d = first.plusDays(17)
      assert(ms.getTable("long", Some(d), Some(d)).count() == perDay(17))
      assert(ms.getTable("long", Some(d), Some(d.plusDays(9))).count() == (17 to 26).map(perDay).sum)
      assert(ms.getLatest("long", Some(d)).count() == perDay(17))
      Thread.sleep(500)
      assert(listings.get() == 0, s"short reads launched ${listings.get()} listing job(s)")
      // all 40 directories are still more than 32 paths: Spark keeps its
      // own parallel listing, which also proves the listener sees them
      assert(ms.getTable("long", Some(first), Some(first.plusDays(39))).count() == (0 until 40).map(perDay).sum)
      val deadline = System.nanoTime() + 10000000000L // the listener bus may lag under suite load
      while (listings.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(listings.get() > 0, "the 40-day read should list its directories with a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val e0 = LocalDate.parse("2024-03-01")
  private val eqDays = Seq(0, 1, 2, 4, 6).map(i => e0.plusDays(i.toLong))
  private val rangeShapes: Seq[(String, Option[LocalDate], Option[LocalDate])] = Seq(
    ("single day", Some(eqDays(2)), Some(eqDays(2))),
    ("interior window", Some(eqDays(1)), Some(eqDays(3))),
    ("from only", Some(eqDays(3)), None),
    ("to only", None, Some(eqDays(1))),
    ("window with no partition", Some(e0.plusDays(5)), Some(e0.plusDays(5))),
    ("window past both ends", Some(e0.minusDays(3)), Some(e0.plusDays(30))))

  /** Rows as a multiset, binary cells compared by content. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def dayDirsRead(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet

  Seq("Parquet" -> DataFormat.Parquet, "ORC" -> DataFormat.Orc, "Raw" -> DataFormat.Raw).foreach {
    case (label, format) =>
      test(s"M2c bounded ByDay $label read equals the filtered whole-table read") {
        val ms = new Metastore(spark)
        val t = MetaTable("eq", tmpDir("mseq_") + "/eq", format = format)
        ms.register(t)
        eqDays.zipWithIndex.foreach { case (d, i) =>
          ms.saveTable("eq", d,
            if (format == DataFormat.Raw)
              (0 to i).map(j => (s"/in/f$j.bin", Array.fill[Byte](j + 1)(i.toByte))).toDF("path", "content")
            else data(s"day$i", i + 2))
        }
        def window(f: Option[LocalDate], u: Option[LocalDate]) = ms.getTable("eq")
          .where(f.fold(lit(true))(x => col("info_date") >= java.sql.Date.valueOf(x)) &&
            u.fold(lit(true))(x => col("info_date") <= java.sql.Date.valueOf(x)))
        val expected = rangeShapes.map { case (_, f, u) => val w = window(f, u); (w.schema, bag(w)) }
        // foreign entries under the root: a day listing must skip them
        val fs = new org.apache.hadoop.fs.Path(t.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        def touch(p: String) = fs.create(new org.apache.hadoop.fs.Path(s"${t.path}/$p")).close()
        touch("info_date=not-a-date/part-0")
        touch("_graft/junk/part-0")
        touch(s"info_date=${e0.plusDays(5)}") // a file, not a directory
        rangeShapes.zip(expected).foreach { case ((shape, f, u), (schema, rows)) =>
          val got = ms.getTable("eq", f, u)
          assert(got.schema == schema, s"$shape: ${got.schema.treeString} vs ${schema.treeString}")
          assert(got.schema("info_date").dataType == org.apache.spark.sql.types.DateType, shape)
          assert(bag(got) == rows, shape)
          val hit = eqDays.filter(d => f.forall(x => !d.isBefore(x)) && u.forall(x => !d.isAfter(x)))
          assert(dayDirsRead(got) == (if (hit.nonEmpty) hit else Seq(eqDays.last)).map(d => s"info_date=$d").toSet,
            s"$shape must read only its in-range directories (the newest one when none is in range)")
        }
      }
  }

  test("M2d a bounded CSV read keeps the whole-table read") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("csv", tmpDir("mscsv_") + "/csv", format = DataFormat.Csv()))
    ms.saveTable("csv", d1, data("a", 2))
    ms.saveTable("csv", d2, data("b", 3))
    ms.saveTable("csv", d3, data("c", 4))
    val got = ms.getTable("csv", Some(d2), Some(d2))
    assert(got.count() == 3)
    // CSV infers its schema from the files read, so every day is listed
    assert(dayDirsRead(got) == Set(d1, d2, d3).map(d => s"info_date=$d"))
  }

  test("M2e a warm bounded Parquet read plans with no Spark job") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("warm", tmpDir("mswarm_") + "/warm"))
    val first = LocalDate.parse("2024-05-01")
    (0 until 10).foreach(i => ms.saveTable("warm", first.plusDays(i.toLong), data(s"d$i", i + 1)))
    val d = first.plusDays(4)
    assert(ms.getTable("warm", Some(d), Some(d)).count() == 5) // the cold read infers the schema
    val (reads, jobs) = jobsOf {
      Seq(ms.getTable("warm", Some(d), Some(d)), ms.getTable("warm", Some(d), Some(d.plusDays(3))),
        ms.getLatest("warm", Some(d)))
    }
    assert(jobs.isEmpty, s"warm bounded reads launched jobs while planning: $jobs")
    assert(reads.map(_.count()) == Seq(5L, 5L + 6 + 7 + 8, 5L))
  }

  /** A 5-day table whose `tag` column carries field metadata. */
  private def savedEqTable(ms: Metastore, format: DataFormat): MetaTable = {
    val t = MetaTable("weq", tmpDir("msweq_") + "/weq", format = format)
    ms.register(t)
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("comment", "day tag").build()
    eqDays.zipWithIndex.foreach { case (d, i) =>
      ms.saveTable("weq", d, data(s"day$i", i + 2).withColumn("tag", col("tag").as("tag", meta)))
    }
    t
  }

  Seq("Parquet" -> DataFormat.Parquet, "ORC" -> DataFormat.Orc).foreach { case (label, format) =>
    test(s"M2f a warm bounded $label read equals a cold one for every range shape") {
      val warm = new Metastore(spark)
      val t = savedEqTable(warm, format)
      warm.getTable("weq", Some(eqDays(0)), Some(eqDays(0))).count()
      rangeShapes.foreach { case (shape, f, u) =>
        val cold = new Metastore(spark)
        cold.register(t)
        val (c, w) = (cold.getTable("weq", f, u), warm.getTable("weq", f, u))
        assert(w.schema == c.schema, s"$shape: ${w.schema.prettyJson} vs ${c.schema.prettyJson}")
        if (format == DataFormat.Parquet) // ORC files keep no Spark field metadata
          assert(w.schema("tag").metadata.getString("comment") == "day tag", shape)
        assert(bag(w) == bag(c), shape)
      }
    }
  }

  test("M2g a re-registered table does not reuse the old read schema") {
    val ms = new Metastore(spark)
    val t = MetaTable("rr", tmpDir("msrr_") + "/rr")
    ms.register(t)
    ms.saveTable("rr", d1, data("a", 2))
    assert(ms.getTable("rr", Some(d1), Some(d1)).columns.toSeq == Seq("id", "tag", "info_date"))
    // another path holding another single-version schema, written elsewhere
    val other = t.copy(path = tmpDir("msrr2_") + "/rr")
    val writer = new Metastore(spark)
    writer.register(other)
    writer.saveTable("rr", d1, data("b", 3).withColumn("extra", lit(9)))
    ms.register(other)
    val moved = ms.getTable("rr", Some(d1), Some(d1))
    assert(moved.columns.toSeq == Seq("id", "tag", "extra", "info_date"))
    assert(moved.where(col("extra") === 9).count() == 3)
    // other read options: the first read infers again (one footer job)
    ms.register(other.copy(readOptions = Map("pathGlobFilter" -> "*.parquet")))
    val (reread, jobs) = jobsOf(ms.getTable("rr", Some(d1), Some(d1)))
    assert(jobs.size == 1, s"expected one schema-inference job, saw $jobs")
    assert(reread.count() == 3)
  }

  test("M2i a re-registered table is judged by its new path's schema history") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("mv", tmpDir("msmv_") + "/mv"))
    ms.saveTable("mv", d1, data("a", 2))
    assert(ms.schemaHistory("mv").size == 1)
    // another path whose table evolved: two versions, saved elsewhere
    val moved = MetaTable("mv", tmpDir("msmv2_") + "/mv")
    val writer = new Metastore(spark)
    writer.register(moved)
    writer.saveTable("mv", d1, data("b", 3))
    writer.saveTable("mv", d2, data("c", 4).withColumn("extra", lit(7)))
    ms.register(moved)
    assert(ms.schemaHistory("mv") == writer.schemaHistory("mv"))
    assert(ms.schemaHistory("mv").map(_._1) == Seq(d1, d2))
    val older = ms.getTable("mv", Some(d1), Some(d1))
    assert(older.columns.contains("extra"), s"the bounded read lost the added column: ${older.columns.toSeq}")
    assert(older.count() == 3 && older.where(col("extra").isNull).count() == 3)
  }

  test("M2h a day directory without data files reads back empty, warm and cold") {
    val warm = new Metastore(spark)
    val t = savedEqTable(warm, DataFormat.Parquet)
    val d = eqDays(2)
    val schema = warm.getTable("weq", Some(d), Some(d)).schema // warms the read schema
    val dir = new org.apache.hadoop.fs.Path(s"${t.path}/info_date=$d")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).foreach(st => fs.delete(st.getPath, false))
    val cold = new Metastore(spark)
    cold.register(t)
    Seq("warm" -> warm, "cold" -> cold).foreach { case (label, ms) =>
      val got = ms.getTable("weq", Some(d), Some(d))
      assert(got.schema == schema, s"$label: ${got.schema.treeString}")
      assert(got.count() == 0, label)
    }
  }

  test("M5b save stats come from the write job itself (no post-write re-scan)") {
    val (ms, _) = freshMs(name = "onescan")
    // count the jobs one save launches; the observe()-based stats path
    // must not add a read job after the write
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val stats = ms.saveTable("onescan", d1, data("a", 9))
      Thread.sleep(500)
      assert(stats.recordCount == 9)
      assert(jobs.get() == 1, s"one save should be one job (the write), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("M5c Append mode on an Overwrite-scheme table keeps prior batches") {
    val (ms, _) = freshMs(PartitionScheme.Overwrite, "snap")
    ms.saveTable("snap", d1, data("a", 2))
    ms.saveTable("snap", d1, data("b", 3), org.apache.spark.sql.SaveMode.Append)
    assert(ms.getTable("snap").count() == 5,
      "an incremental append must not erase the snapshot's earlier batches")
    ms.saveTable("snap", d2, data("c", 1)) // default overwrite: snapshot semantics
    assert(ms.getTable("snap").count() == 1)
  }

  test("M23 partition compaction collapses small-file swarms, rows intact") {
    val (ms, _) = freshMs(name = "cpt")
    // ten tiny appended batches -> at least ten data files in the day
    (1 to 10).foreach { i =>
      ms.saveTable("cpt", d1, data(s"b$i", 10).repartition(2),
        org.apache.spark.sql.SaveMode.Append)
    }
    val before = ms.partitionFileCount("cpt", d1)
    assert(before >= 10, s"expected a small-file swarm, got $before files")
    val stats = ms.compactPartition("cpt", d1, targetFiles = Some(2))
    assert(stats.recordCount == 100)
    assert(ms.partitionFileCount("cpt", d1) == 2,
      s"compaction should leave 2 files, got ${ms.partitionFileCount("cpt", d1)}")
    val back = ms.getTable("cpt", Some(d1), Some(d1))
    assert(back.count() == 100)
    assert(back.select("tag").distinct().count() == 10, "every batch's rows survive")
    // idempotent: compacting again is a no-op shape-wise
    ms.compactPartition("cpt", d1, targetFiles = Some(2))
    assert(ms.getTable("cpt", Some(d1), Some(d1)).count() == 100)
  }

  test("M23b compaction survives every crash window: recovery preamble restores a complete partition") {
    import org.apache.hadoop.fs.Path
    def fsOf(t: MetaTable) =
      new Path(t.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(t: MetaTable) = (
      new Path(s"${t.path}/info_date=$d1"),
      new Path(s"${t.path}/_graft/compact/$d1"),
      new Path(s"${t.path}/_graft/compact/$d1.old"))

    // window 1: crash BETWEEN the two swap renames — the partition is
    // gone, the original sits in .old, the staged output (committed:
    // _SUCCESS) is the complete compacted copy. The r17 predecessor
    // re-read the empty partition here and overwrote staging — the
    // surviving copy — with emptiness.
    val (ms1, t1) = freshMs(name = "cw1")
    ms1.saveTable("cw1", d1, data("a", 40))
    val fs1 = fsOf(t1); val (p1, s1, o1) = dirs(t1)
    // stage a committed compact output exactly like the write does
    spark.read.parquet(p1.toString).drop("info_date").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s1.toString)
    assert(fs1.exists(new Path(s1, "_SUCCESS")))
    assert(fs1.rename(p1, o1), "simulate: first swap rename done, second never ran")
    ms1.compactPartition("cw1", d1, targetFiles = Some(2))
    assert(ms1.getTable("cw1", Some(d1), Some(d1)).count() == 40,
      "mid-swap crash + rerun must keep every row")
    assert(!fs1.exists(o1) && !fs1.exists(s1))

    // window 2: crash between the renames with an UNCOMMITTED staging
    // (no _SUCCESS) — the original in .old must come back
    val (ms2, t2) = freshMs(name = "cw2")
    ms2.saveTable("cw2", d1, data("b", 25))
    val fs2 = fsOf(t2); val (p2, s2, o2) = dirs(t2)
    fs2.mkdirs(s2) // torn write: directory exists, no commit marker
    assert(fs2.rename(p2, o2))
    ms2.compactPartition("cw2", d1, targetFiles = Some(1))
    assert(ms2.getTable("cw2", Some(d1), Some(d1)).count() == 25,
      "uncommitted staging must not win over the original")

    // window 3: crash AFTER the swap, before cleanup — .old lingers
    // next to the already-compacted partition
    val (ms3, t3) = freshMs(name = "cw3")
    ms3.saveTable("cw3", d1, data("c", 10))
    val fs3 = fsOf(t3); val (p3, _, o3) = dirs(t3)
    fs3.mkdirs(o3)
    ms3.compactPartition("cw3", d1, targetFiles = Some(1))
    assert(ms3.getTable("cw3", Some(d1), Some(d1)).count() == 10)
    assert(!fs3.exists(o3), "leftover .old must be cleaned")

    // the repair must also be reachable from the POLICY PROBE: a
    // mid-swap crash makes partitionFileCount report 0, and a
    // fileCount-based policy would then never re-invoke compaction —
    // the failure would suppress its own fix (review finding)
    val (ms4, t4) = freshMs(name = "cw4")
    ms4.saveTable("cw4", d1, data("d", 30))
    val fs4 = fsOf(t4); val (p4, s4, o4) = dirs(t4)
    spark.read.parquet(p4.toString).drop("info_date").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s4.toString)
    assert(fs4.rename(p4, o4), "simulate mid-swap crash")
    val n4 = ms4.partitionFileCount("cw4", d1)
    assert(n4 > 0, s"policy probe must repair the swap first, got $n4 files")
    assert(ms4.getTable("cw4", Some(d1), Some(d1)).count() == 30)
    assert(!fs4.exists(o4) && !fs4.exists(s4))
  }

  test("M6b evolved tables read with merged schema: late-added columns surface") {
    val (ms, _) = freshMs(name = "evo")
    ms.saveTable("evo", d1, data("a", 2))
    assert(ms.getTable("evo", Some(d1), Some(d1)).count() == 2) // remembers the one-version read schema
    ms.saveTable("evo", d2, data("b", 3).withColumn("extra", lit(7)))
    val whole = ms.getTable("evo")
    assert(whole.columns.contains("extra"),
      s"late-added column must surface on whole-table reads: ${whole.columns.toSeq}")
    assert(whole.count() == 5)
    assert(whole.where(col("extra").isNull).count() == 2, "old days read null for new columns")
    assert(whole.where(col("extra") === 7).count() == 3)
    // a bounded read of an evolved table still merges every day's schema
    val day1 = ms.getTable("evo", Some(d1), Some(d1))
    assert(day1.columns.contains("extra"), s"bounded read lost the late column: ${day1.columns.toSeq}")
    assert(day1.count() == 2 && day1.where(col("extra").isNull).count() == 2)
    // a fresh instance recovers the evolution flag from persisted history
    val ms2 = new Metastore(spark)
    ms2.register(MetaTable("evo", ms.getTableDef("evo").path))
    assert(ms2.getTable("evo").columns.contains("extra"))
  }

  test("getCurrentBatch: info-date slice under an orchestrator date, clear error outside") {
    val (ms, _) = freshMs(name = "cb")
    ms.saveTable("cb", d1, data("a", 2))
    ms.saveTable("cb", d2, data("b", 4))
    val reader = ms.readerFor(Some(Set("cb")), currentInfoDate = Some(d2))
    assert(reader.getCurrentBatch("cb").count() == 4)
    assertThrows[IllegalStateException](ms.readerFor().getCurrentBatch("cb"))
  }

  test("reader surface: latest-available date, availability, table def, metadata") {
    val (ms, _) = freshMs(name = "surf")
    ms.saveTable("surf", d1, data("a", 2))
    ms.saveTable("surf", d3, data("b", 3))
    val r = ms.readerFor(Some(Set("surf")))
    assert(r.getLatestAvailableDate("surf").contains(d3))
    assert(r.getLatestAvailableDate("surf", Some(d2)).contains(d1))
    assert(r.isDataAvailable("surf"))
    assert(r.isDataAvailable("surf", Some(d2), Some(d3)))
    assert(!r.isDataAvailable("surf", Some(d2), Some(d2)))
    assert(r.getTableDef("surf").scheme == PartitionScheme.ByDay)
    assert(!r.isIncremental && r.getRunReason == "New")
    // partition metadata roundtrip
    ms.setMetadata("surf", d1, "source.rows", "12345")
    ms.setMetadata("surf", d1, "quality", "passed")
    assert(r.getMetadata("surf", d1, "source.rows").contains("12345"))
    assert(r.getMetadata("surf", d1, "missing").isEmpty)
    assert(ms.listMetadata("surf", d1) == Map("source.rows" -> "12345", "quality" -> "passed"))
    // metadata dirs stay invisible to reads
    assert(ms.getTable("surf").count() == 5)
    assertThrows[IllegalArgumentException](r.getTableDef("other"))
    // transformers can WRITE annotations through the reader too
    // (reference: MetastoreReader.metadataManager.setMetadata), under
    // the same table-scope rule
    r.setMetadata("surf", d3, "written.by", "transformer")
    assert(r.getMetadata("surf", d3, "written.by").contains("transformer"))
    assert(r.listMetadata("surf", d3) == Map("written.by" -> "transformer"))
    assertThrows[IllegalArgumentException](r.setMetadata("other", d1, "k", "v"))
    // delete: one key, then the whole partition (absent keys no-op)
    ms.deleteMetadata("surf", d1, "quality")
    assert(ms.listMetadata("surf", d1) == Map("source.rows" -> "12345"))
    ms.deleteMetadata("surf", d1, "quality") // already gone: no-op
    r.deleteMetadata("surf", d1)
    assert(ms.listMetadata("surf", d1).isEmpty)
    assert(ms.listMetadata("surf", d3).nonEmpty, "other partitions untouched")
  }

  test("unregistered table raises") {
    val ms = new Metastore(spark)
    assertThrows[NoSuchElementException](ms.getTable("ghost"))
  }

  test("transient cache serves repeated reads and is invalidated by saves") {
    val ms = new Metastore(spark)
    val t = MetaTable("tc", tmpDir("tc_") + "/tc", transientCache = true)
    ms.register(t)
    ms.saveTable("tc", d1, data("a", 3))
    val first = ms.getTable("tc", Some(d1), Some(d1))
    assert(first.count() == 3)
    // the read plan is served from the cache manager after materialization
    val cached = ms.getTable("tc").queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.nonEmpty, "transient table read not served from cache")
    // a save must invalidate: new data visible immediately
    ms.saveTable("tc", d2, data("b", 4))
    assert(ms.getTable("tc").count() == 7)
    ms.saveTable("tc", d1, data("a2", 5))
    assert(ms.getTable("tc", Some(d1), Some(d1)).count() == 5)
  }
}
