package graft.sinks

import java.time.LocalDate

import graft.SparkSpec
import graft.meta.HiveDdl

/** Enceladus raw/publish conventions (reference extras EnceladusSink
  * subset): pattern substitution, auto info-version from the published
  * layout, versioned raw write + versioned _INFO, standardization
  * command substitution with stale-publish cleanup and Hive ADD
  * PARTITION, and the config-type wiring. */
class EnceladusSinkSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-06-05")

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("partition pattern substitution: zero-padded date parts, version, column") {
    assert(EnceladusLayout.unpackPattern(
      EnceladusLayout.DefaultRawPattern, "c", d, 3) == "2024/06/05/v3")
    assert(EnceladusLayout.unpackPattern(
      EnceladusLayout.DefaultPublishPattern, "c", d, 2) ==
      "enceladus_info_date=2024-06-05/enceladus_info_version=2")
    assert(EnceladusLayout.unpackPattern("{column}={year}-{month}-{day}", "info_date", d, 1) ==
      "info_date=2024-06-05")
  }

  test("auto version: 1 on an empty publish layout, max published + 1 after; other dates don't interfere") {
    val pub = tmp("enc_pub_")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(EnceladusLayout.nextVersion(conf, pub, d) == 1)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"$pub/enceladus_info_date=2024-06-05/enceladus_info_version=1"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"$pub/enceladus_info_date=2024-06-05/enceladus_info_version=3"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"$pub/enceladus_info_date=2024-06-06/enceladus_info_version=9"))
    assert(EnceladusLayout.nextVersion(conf, pub, d) == 4,
      "version must be per-date: 9 on the 6th must not leak into the 5th")
  }

  test("send: versioned raw layout, _INFO carries the resolved version, explicit version honored") {
    val raw = tmp("enc_raw_")
    val pub = tmp("enc_pub2_")
    val sink = new EnceladusSink(infoFile =
      Some(InfoFileConfig(application = "graft-test", country = "ZA")))
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val r = sink.send(df, "sales", d, Map("path" -> raw, "publish.base.path" -> pub))
    assert(r.recordsSent == 3)
    val part = java.nio.file.Paths.get(s"$raw/2024/06/05/v1")
    assert(java.nio.file.Files.isDirectory(part), "raw data must land under the versioned layout")
    val info = new String(java.nio.file.Files.readAllBytes(part.resolve("_INFO")), "UTF-8")
    assert(info.contains("\"version\" : 1") && info.contains("graft-test"), info.take(400))
    assert(spark.read.parquet(part.toString).count() == 3)
    // explicit version: no publish path needed, layout pins v7
    val r2 = sink.send(df, "sales", d, Map("path" -> raw, "info.version" -> "7"))
    assert(r2.recordsSent == 3)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$raw/2024/06/05/v7")))
  }

  test("auto version advances once a version is published; missing publish path fails actionably") {
    val raw = tmp("enc_raw3_")
    val pub = tmp("enc_pub3_")
    val sink = new EnceladusSink()
    val df = Seq((1L, "a")).toDF("id", "v")
    sink.send(df, "t", d, Map("path" -> raw, "publish.base.path" -> pub))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$raw/2024/06/05/v1")))
    // publishing v1 moves the next auto raw export to v2
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      s"$pub/enceladus_info_date=2024-06-05/enceladus_info_version=1"))
    sink.send(df, "t", d, Map("path" -> raw, "publish.base.path" -> pub))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$raw/2024/06/05/v2")),
      "a published v1 must push the next raw export to v2")
    val e = intercept[IllegalArgumentException](
      sink.send(df, "t", d, Map("path" -> raw)))
    assert(e.getMessage.contains("publish.base.path"), e.getMessage)
  }

  test("standardization command runs with substituted vars; stale publish removed; hive partition added") {
    val raw = tmp("enc_raw4_")
    val pub = tmp("enc_pub4_")
    val hiveStatements = collection.mutable.ArrayBuffer.empty[String]
    val recorder = new HiveDdl.QueryExecutor {
      override def execute(sql: String): Unit = hiveStatements += sql
      override def tableExists(fullTableName: String): Boolean = true
    }
    val sink = new EnceladusSink(hiveExecutor = Some(recorder))
    // stale output for the version about to be exported must vanish
    val stale = java.nio.file.Paths.get(
      s"$pub/enceladus_info_date=2024-06-05/enceladus_info_version=1/old.txt")
    java.nio.file.Files.createDirectories(stale.getParent)
    java.nio.file.Files.write(stale, "stale".getBytes)
    val marker = tmp("enc_cmd_") + "/ran.txt"
    val df = Seq((1L, "a")).toDF("id", "v")
    sink.send(df, "t", d, Map(
      "path" -> raw,
      "info.version" -> "1",
      "publish.base.path" -> pub,
      "dataset.name" -> "sales_ds",
      "dataset.version" -> "4",
      "hive.table" -> "dwh.sales",
      "enceladus.run.command" -> s"cp /dev/null $marker"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "the standardization command must actually run")
    assert(!java.nio.file.Files.exists(stale), "stale same-version publish output must be removed")
    assert(hiveStatements.size == 1, hiveStatements.toString)
    val stmt = hiveStatements.head
    assert(stmt.contains("dwh.sales") && stmt.contains("enceladus_info_date") &&
      stmt.contains("2024-06-05") && stmt.contains("enceladus_info_version") &&
      stmt.contains("'1'") && stmt.toUpperCase.contains("ADD"), stmt)
    // a failing command must fail the send
    val e = intercept[RuntimeException](sink.send(df, "t", d, Map(
      "path" -> raw, "info.version" -> "2", "publish.base.path" -> pub,
      "dataset.name" -> "sales_ds",
      "enceladus.run.command" -> "false")))
    assert(e.getMessage.contains("standardization failed"), e.getMessage)
  }

  test("a chatty standardization command does not deadlock the pipe or trip the timeout") {
    val raw = tmp("enc_raw6_")
    val pub = tmp("enc_pub6_")
    val script = java.nio.file.Files.createTempFile("chatty_", ".sh")
    // ~1 MB of stdout: far past the 64 KB OS pipe buffer — without the
    // drain thread the child blocks on write and the timeout fires
    java.nio.file.Files.write(script,
      "i=0\nwhile [ $i -lt 16384 ]; do echo 0123456789012345678901234567890123456789012345678901234567890123; i=$((i+1)); done\n".getBytes)
    val sink = new EnceladusSink(commandTimeoutSeconds = 30)
    val r = sink.send(Seq((1L, "a")).toDF("id", "v"), "t", d, Map(
      "path" -> raw, "info.version" -> "1", "publish.base.path" -> pub,
      "dataset.name" -> "ds", "enceladus.run.command" -> s"/bin/sh $script"))
    assert(r.recordsSent == 1, "the chatty-but-healthy run must complete")
  }

  test("config wiring: sink.<name>.type = enceladus builds from config; job options drive the send") {
    val raw = tmp("enc_raw5_")
    val pub = tmp("enc_pub5_")
    val parsed = graft.pipeline.PipelineConfig.parse(
      s"""sink.enc.type = enceladus
         |sink.enc.info.file = true
         |sink.enc.info.file.application = cfg-app
         |allow.empty.pipeline = true
         |""".stripMargin)
    // reach the declared sink through a config-declared sink job
    val parsed2 = graft.pipeline.PipelineConfig.parse(
      s"""table.enc_src.path = ${tmp("enc_ms_")}
         |sink.enc.type = enceladus
         |sink.enc.info.file = true
         |job.1.name = export
         |job.1.type = sink
         |job.1.input = enc_src
         |job.1.sink = enc
         |job.1.option.path = $raw
         |job.1.option.publish.base.path = $pub
         |""".stripMargin)
    val ms = new graft.meta.Metastore(spark)
    parsed2.tables.foreach(ms.register)
    ms.saveTable("enc_src", d, Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val res = graft.pipeline.PipelineConfig.runParams(spark, parsed2,
      graft.pipeline.RunParams.Normal(d, newOnly = true))
    assert(res.head.isInstanceOf[graft.pipeline.TaskResult.Succeeded], res.head.toString)
    val part = java.nio.file.Paths.get(s"$raw/2024/06/05/v1")
    assert(java.nio.file.Files.isDirectory(part))
    assert(java.nio.file.Files.exists(part.resolve("_INFO")))
    assert(parsed.jobs.isEmpty) // the first parse was just the type check
  }

  test("r17 review pins: custom publish pattern scopes stale delete and drives the Hive spec") {
    // custom col=value pattern: the stale same-version dir must still
    // be deleted (the old guard keyed on the LITERAL substring
    // 'enceladus_info_version=' and silently skipped custom layouts)
    // and the Hive partition spec must come from the PATTERN, not the
    // hardcoded enceladus_info_* columns
    val raw = tmp("enc_raw7_")
    val pub = tmp("enc_pub7_")
    val hiveStatements = collection.mutable.ArrayBuffer.empty[String]
    val recorder = new HiveDdl.QueryExecutor {
      override def execute(sql: String): Unit = hiveStatements += sql
      override def tableExists(fullTableName: String): Boolean = true
    }
    val sink = new EnceladusSink(
      publishPartitionPattern = "pub_date={year}-{month}-{day}/pub_v={version}",
      hiveExecutor = Some(recorder))
    val stale = java.nio.file.Paths.get(s"$pub/pub_date=2024-06-05/pub_v=1/old.txt")
    java.nio.file.Files.createDirectories(stale.getParent)
    java.nio.file.Files.write(stale, "stale".getBytes)
    sink.send(Seq((1L, "a")).toDF("id", "v"), "t", d, Map(
      "path" -> raw, "info.version" -> "1", "publish.base.path" -> pub,
      "dataset.name" -> "ds", "hive.table" -> "dwh.custom",
      "enceladus.run.command" -> "true"))
    assert(!java.nio.file.Files.exists(stale),
      "stale publish output must be removed under a CUSTOM pattern too")
    assert(hiveStatements.size == 1, hiveStatements.toString)
    val stmt = hiveStatements.head
    assert(stmt.contains("pub_date") && stmt.contains("pub_v") &&
      !stmt.contains("enceladus_info_version"),
      s"partition spec must come from the pattern: $stmt")

    // a pattern NOT in col=value form can't be Hive-registered: warn +
    // skip rather than issuing DDL with wrong columns
    hiveStatements.clear()
    val bare = new EnceladusSink(
      publishPartitionPattern = "{year}-{month}-{day}/v{version}",
      hiveExecutor = Some(recorder))
    bare.send(Seq((1L, "a")).toDF("id", "v"), "t", d, Map(
      "path" -> tmp("enc_raw8_"), "info.version" -> "1",
      "publish.base.path" -> tmp("enc_pub8_"),
      "dataset.name" -> "ds", "hive.table" -> "dwh.custom",
      "enceladus.run.command" -> "true"))
    assert(hiveStatements.isEmpty,
      s"non-col=value layout must not register wrong DDL: $hiveStatements")
  }

  test("r14c review pins: custom publish pattern version detection; quote-aware command split") {
    // version auto-detect must scan the CONFIGURED layout
    val base = tmp("enc_custom_")
    val pattern = "v_date={year}-{month}-{day}/enceladus_info_version={version}"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base.toString).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/v_date=2024-06-05/enceladus_info_version=3"))
    assert(EnceladusLayout.maxPublishedVersion(conf, base.toString,
      java.time.LocalDate.of(2024, 6, 5), pattern).contains(3))
    assert(EnceladusLayout.nextVersion(conf, base.toString,
      java.time.LocalDate.of(2024, 6, 5), pattern) == 4)
    // a pattern without {version} detects nothing (and never deletes)
    assert(EnceladusLayout.maxPublishedVersion(conf, base.toString,
      java.time.LocalDate.of(2024, 6, 5), "d={year}").isEmpty)

    // quoted arguments survive; spaces inside quotes do not split
    assert(EnceladusLayout.tokenize("""run --path "/a b/c" --x 'y z'""") ==
      Seq("run", "--path", "/a b/c", "--x", "y z"))
    assert(EnceladusLayout.tokenize("  ") == Seq.empty)
    assert(EnceladusLayout.tokenize("""a "" b""") == Seq("a", "", "b"))
  }
}
