package graft.kafka

import graft.SparkSpec
import graft.offset.{OffsetManager, OffsetValue}
import graft.sources.IngestionJob
import graft.meta.{MetaTable, Metastore}
import org.apache.spark.sql.types._

/** Registry + Avro layers over the loopback broker: the full
  * KafkaAvroSource/KafkaAvroSink lifecycle against a scripted
  * Confluent registry (real HTTP) and a real-socket broker. */
class KafkaAvroSpec extends SparkSpec {

  private def withRegistry[T](f: (LoopbackRegistry, SchemaRegistryClient) => T): T = {
    val reg = new LoopbackRegistry
    try f(reg, reg.client)
    finally reg.close()
  }

  test("registry client: register is idempotent, latest and byId resolve, errors are actionable") {
    withRegistry { (_, client) =>
      val schema = graft.streaming.AvroCodec.avroSchemaFor(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("body", StringType))))
      val id1 = client.register("docs-value", schema)
      val id2 = client.register("docs-value", schema)
      assert(id1 == id2, "re-registering an identical schema must return the existing id")
      val latest = client.latest("docs-value")
      assert(latest.id == id1)
      assert(latest.schema.getField("body") != null)
      assert(client.byId(id1).getField("id") != null)
      val e = intercept[IllegalStateException](client.latest("missing-value"))
      assert(e.getMessage.contains("404"), e.getMessage)
    }
  }

  test("subject naming strategies match the Confluent contract") {
    import SubjectNaming._
    assert(TopicName.subject("events", isKey = false) == "events-value")
    assert(TopicName.subject("events", isKey = true) == "events-key")
    assert(RecordName("Doc", "com.x").subject("events", isKey = false) == "com.x.Doc")
    assert(TopicRecordName("Doc", "com.x").subject("events", isKey = false) == "events-com.x.Doc")
    assert(parse("topic.name", None, None) == TopicName)
    intercept[IllegalArgumentException](parse("record.name", None, None))
    intercept[IllegalArgumentException](parse("whatever", None, None))
  }

  test("AvroSchemas.toSpark inverts avroSchemaFor: nullability, nesting, arrays, date/timestamp logicals") {
    val sparkSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("scores", ArrayType(DoubleType, containsNull = false), nullable = true),
      StructField("nested", StructType(Seq(
        StructField("a", IntegerType, nullable = true),
        StructField("b", BinaryType, nullable = false))), nullable = true)))
    val back = AvroSchemas.toSpark(graft.streaming.AvroCodec.avroSchemaFor(sparkSchema))
    assert(back == sparkSchema)
    // logical types from a FOREIGN writer schema (not produced by graft)
    val avro = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"d","type":{"type":"int","logicalType":"date"}},
        |{"name":"ts","type":["null",{"type":"long","logicalType":"timestamp-micros"}]}
        |]}""".stripMargin)
    val converted = AvroSchemas.toSpark(avro)
    assert(converted("d").dataType == DateType && !converted("d").nullable)
    assert(converted("ts").dataType == TimestampType && converted("ts").nullable)
  }

  test("KafkaValue: vector compare, increment, string round trip, partition growth") {
    import OffsetValue.KafkaValue
    val a = KafkaValue(Map(0 -> 5L, 1 -> 7L))
    assert(a.asString == """{"0":5,"1":7}""")
    assert(OffsetValue.fromString("kafka", a.asString) == a)
    assert(a.compare(KafkaValue(Map(0 -> 5L, 1 -> 7L))) == 0)
    assert(a < KafkaValue(Map(0 -> 6L, 1 -> 7L)))
    assert(a > KafkaValue(Map(0 -> 4L, 1 -> 6L)))
    // divergent vectors throw, as in the reference
    intercept[IllegalArgumentException](a.compare(KafkaValue(Map(0 -> 6L, 1 -> 6L))))
    // a GROWN topic compares against -1 for the new partition instead of throwing
    assert(a < KafkaValue(Map(0 -> 5L, 1 -> 7L, 2 -> 0L)))
    assert(a.increment == KafkaValue(Map(0 -> 6L, 1 -> 8L)))
    intercept[IllegalArgumentException](a.compare(OffsetValue.IntegralValue(3)))
  }

  test("sink -> source e2e: avro payloads round trip with kafka metadata, keys, and per-partition offsets") {
    val cluster = new LoopbackCluster(Map("docs" -> 2))
    try withRegistry { (_, registry) =>
      import spark.implicits._
      val batch1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
        .toDF("id", "body")
      val sink = new KafkaAvroSink(cluster.bootstrapServers, "docs", registry,
        keyColumn = Some("id"))
      val sent = sink.send(batch1, "docs", java.time.LocalDate.of(2026, 8, 14))
      assert(sent.recordsSent == 3)

      val source = new KafkaAvroSource(spark, cluster.bootstrapServers, "docs",
        registry, keySerializer = "string")
      val res1 = source.getDataIncremental(None)
      val rows1 = res1.df.orderBy("id").collect()
      assert(rows1.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
      assert(rows1.map(_.getAs[String]("body")).toSeq == Seq("alpha", "beta", "gamma"))
      assert(rows1.map(_.getAs[String]("kafka_key")).toSeq == Seq("1", "2", "3"))
      val kafkaStruct = rows1.head.getStruct(rows1.head.fieldIndex("kafka"))
      assert(kafkaStruct.schema.fieldNames.toSeq ==
        Seq("partition", "offset", "timestamp", "timestamp_type"))

      // commit per-partition offsets via the standard offset layer
      val om = new OffsetManager()
      val info = source.getOffsetInfo.get
      val max1 = om.maxOffset(res1.df, info).get.asInstanceOf[OffsetValue.KafkaValue]
      assert(max1.partitionOffsets.values.sum + max1.partitionOffsets.size == 3,
        s"last-read offsets across partitions must cover 3 records, got ${max1.asString}")
      om.commit("docs", max1)

      // second batch: only the delta comes back
      sink.send(Seq((4L, "delta")).toDF("id", "body"), "docs",
        java.time.LocalDate.of(2026, 8, 14))
      val res2 = source.getDataIncremental(om.getLatestOffset("docs"))
      val rows2 = res2.df.collect()
      assert(rows2.map(_.getAs[String]("body")).toSeq == Seq("delta"))

      // nothing new -> empty frame, offset stays put
      om.commit("docs", om.maxOffset(res2.df, info).get)
      val res3 = source.getDataIncremental(om.getLatestOffset("docs"))
      assert(res3.df.count() == 0)
    } finally cluster.close()
  }

  test("source contract: batch jobs rejected, wrong offset type rejected, avro key needs a strategy") {
    val cluster = new LoopbackCluster(Map("t" -> 1))
    try withRegistry { (_, registry) =>
      val source = new KafkaAvroSource(spark, cluster.bootstrapServers, "t", registry)
      intercept[IllegalArgumentException](
        source.getRecordCount(java.time.LocalDate.now(), java.time.LocalDate.now()))
      intercept[IllegalArgumentException](
        source.getDataIncremental(Some(OffsetValue.IntegralValue(5))))
      intercept[IllegalArgumentException](
        new KafkaAvroSource(spark, cluster.bootstrapServers, "t", registry,
          keySerializer = "avro"))
      intercept[IllegalArgumentException](
        new KafkaAvroSource(spark, cluster.bootstrapServers, "t", registry,
          keySerializer = "protobuf"))
    } finally cluster.close()
  }

  test("payload fields colliding with reserved kafka columns are dropped, like the reference") {
    val cluster = new LoopbackCluster(Map("c" -> 1))
    try withRegistry { (_, registry) =>
      import spark.implicits._
      // payload deliberately carries a 'kafka' field
      val df = Seq((1L, "x")).toDF("id", "kafka")
      new KafkaAvroSink(cluster.bootstrapServers, "c", registry).send(
        df, "c", java.time.LocalDate.of(2026, 8, 14))
      val source = new KafkaAvroSource(spark, cluster.bootstrapServers, "c",
        registry, keySerializer = "none")
      val out = source.getDataIncremental(None).df
      assert(out.columns.toSeq == Seq("id", "kafka"))
      // the surviving 'kafka' column is the metadata STRUCT, not the payload string
      assert(out.schema("kafka").dataType.isInstanceOf[StructType])
    } finally cluster.close()
  }

  test("full incremental ingestion: orchestrator-path ingestIncremental appends only the tail and advances kafka offsets") {
    val cluster = new LoopbackCluster(Map("feed" -> 2))
    try withRegistry { (_, registry) =>
      import spark.implicits._
      val sink = new KafkaAvroSink(cluster.bootstrapServers, "feed", registry,
        keyColumn = Some("id"))
      val d = java.time.LocalDate.of(2026, 8, 14)
      sink.send(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "feed", d)

      val source = new KafkaAvroSource(spark, cluster.bootstrapServers, "feed",
        registry, keySerializer = "none")
      val ms = new Metastore(spark)
      ms.register(MetaTable("feed_t", tmpDir("kafkain_") + "/t"))
      val om = new OffsetManager()
      val job = new IngestionJob(source, ms, om)

      val s1 = job.ingestIncremental("feed_t", d)
      assert(s1.recordCount == 2)
      assert(om.getLatestOffset("feed_t").exists(_.isInstanceOf[OffsetValue.KafkaValue]))

      sink.send(Seq((3L, "c")).toDF("id", "v"), "feed", d)
      val s2 = job.ingestIncremental("feed_t", d)
      assert(s2.recordCount == 1, "second run must deliver only the new record")

      val stored = ms.getTable("feed_t", Some(d), Some(d))
      assert(stored.count() == 3)
      assert(stored.select("v").as[String].collect().sorted.toSeq == Seq("a", "b", "c"))

      // third run with nothing new: no save, offset unchanged
      val before = om.getLatestOffset("feed_t")
      val s3 = job.ingestIncremental("feed_t", d)
      assert(s3.recordCount == 0)
      assert(om.getLatestOffset("feed_t") == before)
    } finally cluster.close()
  }

  test("config wiring: source.<name>.type = kafka.avro builds the source; missing keys fail the config load") {
    val cluster = new LoopbackCluster(Map("cfg" -> 1))
    try withRegistry { (reg, registry) =>
      import spark.implicits._
      new KafkaAvroSink(cluster.bootstrapServers, "cfg", registry).send(
        Seq((7L, "hi")).toDF("id", "txt"), "cfg", java.time.LocalDate.of(2026, 8, 14))
      // the factory consumes the same option scope the config hands it
      val src = KafkaAvroSourceFactory(spark, Map(
        "kafka.bootstrap.servers" -> cluster.bootstrapServers,
        "topic" -> "cfg",
        "schema.registry.url" -> reg.url,
        "key.column.serializer" -> "none"))
      val out = src.getDataIncremental(None).df
      assert(out.select("txt").as[String].collect().toSeq == Seq("hi"))
      // a full pipeline declaration parses into an ingestion job
      val parsed = graft.pipeline.PipelineConfig.parse(
        s"""pipeline.name = kafka-in
           |table.cfg_t.path = ${tmpDir("kafkacfg_")}/t
           |source.k.type = kafka.avro
           |source.k.kafka.bootstrap.servers = ${cluster.bootstrapServers}
           |source.k.topic = cfg
           |source.k.schema.registry.url = ${reg.url}
           |source.k.key.column.serializer = none
           |job.ingest.type = ingestion
           |job.ingest.source = k
           |job.ingest.output = cfg_t
           |""".stripMargin)
      assert(parsed.jobs.map(_.outputTable) == Seq("cfg_t"))

      val e = intercept[IllegalArgumentException](graft.pipeline.PipelineConfig.parse(
        """source.k.type = kafka.avro
          |source.k.topic = cfg
          |allow.empty.pipeline = true
          |""".stripMargin))
      assert(e.getMessage.contains("kafka.bootstrap.servers"), e.getMessage)
      val e2 = intercept[IllegalArgumentException](graft.pipeline.PipelineConfig.parse(
        s"""source.k.type = kafka.avro
           |source.k.kafka.bootstrap.servers = x:1
           |source.k.topic = cfg
           |source.k.schema.registry.url = http://r
           |source.k.kafka.starting.offsets = weird
           |allow.empty.pipeline = true
           |""".stripMargin))
      assert(e2.getMessage.toLowerCase.contains("offset"), e2.getMessage)

      // the sink route: a config-declared sink JOB exports through the
      // wire for real (metastore table -> registry-framed Avro -> topic)
      val msDir = tmpDir("kafkasink_ms_")
      val parsedSink = graft.pipeline.PipelineConfig.parse(
        s"""table.kout_src.path = $msDir
           |sink.kout.type = kafka.avro
           |sink.kout.kafka.bootstrap.servers = ${cluster.bootstrapServers}
           |sink.kout.topic = cfg
           |sink.kout.schema.registry.url = ${reg.url}
           |sink.kout.key.column = id
           |job.1.name = export
           |job.1.type = sink
           |job.1.input = kout_src
           |job.1.sink = kout
           |""".stripMargin)
      val ms = new Metastore(spark)
      parsedSink.tables.foreach(ms.register)
      val d = java.time.LocalDate.of(2026, 8, 14)
      ms.saveTable("kout_src", d, Seq((9L, "bye")).toDF("id", "txt"))
      val before = (0 until 1).map(p => cluster.log("cfg", p).records.size).sum
      val res = graft.pipeline.PipelineConfig.runParams(spark, parsedSink,
        graft.pipeline.RunParams.Normal(d, newOnly = true))
      assert(res.head.isInstanceOf[graft.pipeline.TaskResult.Succeeded], res.head.toString)
      val after = (0 until 1).map(p => cluster.log("cfg", p).records.size).sum
      assert(after == before + 1)
      intercept[IllegalArgumentException](graft.pipeline.PipelineConfig.parse(
        """sink.kout.type = kafka.avro
          |allow.empty.pipeline = true
          |""".stripMargin))
    } finally cluster.close()
  }

  test("hyperdrive token producer sends one unkeyed message over the wire to partition 0") {
    val cluster = new LoopbackCluster(Map("hd.topic" -> 2))
    try {
      val p = new graft.pipeline.KafkaSingleMessageProducer(cluster.bootstrapServers)
      p.send("hd.topic", "token-42")
      val log = cluster.log("hd.topic", 0)
      assert(log.records.size == 1)
      assert(new String(log.records.head._3, "UTF-8") == "token-42")
      assert(log.records.head._2 == null, "token messages are unkeyed")
      assert(cluster.log("hd.topic", 1).records.isEmpty)
    } finally cluster.close()
  }
}

/** Regressions from the r14c review: union branch order and
  * mixed-schema-version topics. */
class KafkaAvroSchemaEdgeSpec extends SparkSpec {

  private def withRegistry[T](f: (LoopbackRegistry, SchemaRegistryClient) => T): T = {
    val reg = new LoopbackRegistry
    try f(reg, reg.client)
    finally reg.close()
  }

  test("a (T, null) union writer schema decodes correctly (branch order preserved from the registry)") {
    val cluster = new LoopbackCluster(Map("u" -> 1))
    try withRegistry { (_, registry) =>
      // hand-written schemas commonly put T first; index 0 = string
      val writerJson =
        """{"type":"record","name":"row","namespace":"ext","fields":[
          |{"name":"id","type":"long"},
          |{"name":"s","type":["string","null"]}]}""".stripMargin
      val writer = new org.apache.avro.Schema.Parser().parse(writerJson)
      val id = registry.register("u-value", writer)
      // encode two records with avro directly under THAT schema
      def payload(idv: Long, s: String): Array[Byte] = {
        val rec = new org.apache.avro.generic.GenericData.Record(writer)
        rec.put("id", idv)
        rec.put("s", if (s == null) null else new org.apache.avro.util.Utf8(s))
        val bos = new java.io.ByteArrayOutputStream()
        val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](writer)
          .write(rec, enc)
        enc.flush()
        val body = bos.toByteArray
        val out = new java.io.ByteArrayOutputStream()
        out.write(0)
        out.write((id >>> 24) & 0xFF); out.write((id >>> 16) & 0xFF)
        out.write((id >>> 8) & 0xFF); out.write(id & 0xFF)
        out.write(body)
        out.toByteArray
      }
      val client = new KafkaWireClient(KafkaBatch.parseBrokers(cluster.bootstrapServers))
      try client.produce("u", 0, Seq(
        KafkaWire.OutRecord(null, payload(1L, "hello"), 1L),
        KafkaWire.OutRecord(null, payload(2L, null), 2L)))
      finally client.close()

      val source = new KafkaAvroSource(spark, cluster.bootstrapServers, "u",
        registry, keySerializer = "none")
      val rows = source.getDataIncremental(None).df.orderBy("id").collect()
      assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
      assert(rows(0).getAs[String]("s") == "hello",
        "a T-first union must decode the string branch, not null")
      assert(rows(1).getAs[String]("s") == null)
    } finally cluster.close()
  }

  test("records written under an OLDER schema version fail loudly, never misdecode") {
    val cluster = new LoopbackCluster(Map("mv" -> 1))
    try withRegistry { (_, registry) =>
      import spark.implicits._
      val sink = new KafkaAvroSink(cluster.bootstrapServers, "mv", registry)
      sink.send(Seq((1L, "old")).toDF("id", "v"), "mv", java.time.LocalDate.of(2026, 8, 14))
      // the subject evolves: a wider schema becomes latest
      val v2 = graft.streaming.AvroCodec.avroSchemaFor(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType),
        StructField("extra", LongType))))
      registry.register("mv-value", v2)
      val source = new KafkaAvroSource(spark, cluster.bootstrapServers, "mv",
        registry, keySerializer = "none")
      val e = intercept[Exception] {
        source.getDataIncremental(None).df.collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("schema id mismatch")), chain(e).mkString(" | "))
    } finally cluster.close()
  }

  test("null keys through the avro sink stay null on the wire (round-robin, not murmur2('null'))") {
    val cluster = new LoopbackCluster(Map("nk" -> 2))
    try withRegistry { (_, registry) =>
      import spark.implicits._
      val df = Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
        .toDF("id", "v")
      new KafkaAvroSink(cluster.bootstrapServers, "nk", registry,
        keyColumn = Some("id")).send(df, "nk", java.time.LocalDate.of(2026, 8, 14))
      val keys = (0 until 2).flatMap(p => cluster.log("nk", p).records.map(_._2))
      assert(keys.count(_ == null) == 1, "the null-id row must carry a NULL key")
      assert(keys.count(_ != null) == 1)
      assert(new String(keys.find(_ != null).get, "UTF-8") == "1")
    } finally cluster.close()
  }
}
