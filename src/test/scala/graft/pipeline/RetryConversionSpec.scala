package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore, MetastoreReader}
import graft.sinks.{CmdLineSink, SinkJob}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DecimalType

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

/** ConversionTransformer, job retries, CmdLineSink. */
class RetryConversionSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-06-15")

  test("ConversionTransformer casts the configured columns") {
    val ms = new Metastore(spark)
    val base = tmpDir("conv_")
    ms.register(MetaTable("src", s"$base/src"))
    ms.register(MetaTable("out", s"$base/out"))
    ms.saveTable("src", d, Seq((1L, "12.345", 7)).toDF("id", "amount", "qty"))
    val results = new Orchestrator(ms).run(Seq(JobDef(
      "conv", "out", new ConversionTransformer, Seq("src"),
      options = Map("input.table" -> "src",
        "convert.amount" -> "decimal(18,2)", "convert.qty" -> "long"))), d)
    assert(results.head.isInstanceOf[TaskResult.Succeeded])
    val schema = ms.getTable("out", Some(d), Some(d)).schema
    assert(schema("amount").dataType == DecimalType(18, 2))
    assert(schema("qty").dataType.simpleString == "bigint")

    // validation gates
    val r2 = new Orchestrator(ms).runWith(Seq(JobDef(
      "conv2", "out", new ConversionTransformer, Seq("src"),
      options = Map("input.table" -> "src"))), RunParams.Rerun(d))
    assert(r2.head.isInstanceOf[TaskResult.NotReady])
  }

  test("ProcessTransformer: parquet exchange with an external process end-to-end") {
    val ms = new Metastore(spark)
    val base = tmpDir("proc_")
    ms.register(MetaTable("p_in", s"$base/in_t"))
    ms.register(MetaTable("p_out", s"$base/out_t"))
    ms.saveTable("p_in", d, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))

    // the "foreign runtime" is a shell script copying input parquet to
    // the output dir — the exchange contract is what's under test
    val script = java.nio.file.Paths.get(s"$base/transform.sh")
    java.nio.file.Files.write(script,
      "#!/bin/sh\nmkdir -p \"$2\" && cp \"$1\"/p_in/*.parquet \"$2\"/\n".getBytes)
    script.toFile.setExecutable(true)

    val t = new ProcessTransformer(s"$script @in @out", s"$base/stage", Seq("p_in"))
    val orch = new Orchestrator(ms)
    val results = orch.run(Seq(JobDef("px", "p_out", t, Seq("p_in"))), d)
    assert(results.head.isInstanceOf[TaskResult.Succeeded], s"got: $results")
    assert(ms.getTable("p_out", Some(d), Some(d)).count() == 3)

    // a failing process surfaces its output in the error
    val bad = new ProcessTransformer("false", s"$base/stage2", Seq("p_in"))
    val r2 = new Orchestrator(ms).run(
      Seq(JobDef("pb", "p_out", bad, Seq("p_in"))), d.plusDays(1))
    assert(r2.head.isInstanceOf[TaskResult.Failed])
  }

  test("TailBuffer keeps only the last bytes; ProcessTransformer capture is bounded") {
    // unit: wrap-around keeps the newest tail, oldest-first
    val tb = new TailBuffer(8)
    tb.write("abc".getBytes("UTF-8"))
    assert(!tb.truncated && tb.tail == "abc" && tb.render == "abc")
    tb.write("defghij".getBytes("UTF-8")) // 10 total > 8
    assert(tb.truncated && tb.tail == "cdefghij", tb.tail)
    assert(tb.render.startsWith("...[output truncated"), tb.render)
    // a chunk larger than the whole capacity keeps just its tail
    val tb2 = new TailBuffer(4)
    tb2.write("0123456789".getBytes("UTF-8"))
    assert(tb2.tail == "6789", tb2.tail)
    // single-byte writes wrap identically
    val tb3 = new TailBuffer(3)
    "abcde".getBytes("UTF-8").foreach(b => tb3.write(b.toInt))
    assert(tb3.tail == "cde", tb3.tail)
    // e2e: a failing child that printed ~1 MB reports only the tail —
    // the failure message stays bounded and ends with the LAST output
    val base = tmpDir("pt_tail_")
    val ms = new Metastore(spark)
    ms.register(MetaTable("ptt_in", s"$base/in",
      scheme = graft.meta.PartitionScheme.NotPartitioned))
    ms.saveTable("ptt_in", d, Seq((1L, "x")).toDF("id", "v"))
    val script = s"$base/chatty.sh"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(script),
      "#!/bin/sh\nseq 1 200000\necho LAST_MARKER\nexit 3\n")
    new java.io.File(script).setExecutable(true)
    val t = new ProcessTransformer(script, s"$base/stage", Seq("ptt_in"))
    val e = intercept[RuntimeException](t.run(ms.readerFor(), d, Map.empty))
    assert(e.getMessage.contains("exit 3"), e.getMessage.take(200))
    assert(e.getMessage.length < 80 * 1024,
      s"captured output must be bounded, got ${e.getMessage.length} chars")
    assert(e.getMessage.contains("LAST_MARKER"), "the tail (newest output) must survive")
    assert(e.getMessage.contains("[output truncated"), "truncation must be explicit")
    assert(!e.getMessage.contains("\n1\n2\n"), "the oldest output must be gone")
  }

  test("ProcessTransformer timeout fires for a hung child that keeps stdout open") {
    // `sleep` writes nothing and never closes stdout: a blocking
    // stdout read before waitFor would defeat the timeout entirely
    val ms = new Metastore(spark)
    val base = tmpDir("proct_")
    ms.register(MetaTable("pt_in", s"$base/in_t"))
    ms.saveTable("pt_in", d, Seq((1L, "a")).toDF("id", "v"))
    val hung = new ProcessTransformer("sleep 30", s"$base/stage", Seq("pt_in"),
      timeoutSeconds = 2)
    val t0 = System.nanoTime()
    val ex = intercept[RuntimeException](
      hung.run(ms.readerFor(), d, Map.empty))
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage.contains("timed out"), ex.getMessage)
    assert(elapsedSec < 15, s"timeout must bound the hung child, took ${elapsedSec}s")
  }

  test("retries: a transformer that fails twice succeeds with retries=2, fails with 1") {
    class Flaky(failures: Int) extends Transformer {
      private val calls = new AtomicInteger()
      def run(r: MetastoreReader, dt: LocalDate, o: Map[String, String]): DataFrame = {
        if (calls.incrementAndGet() <= failures) throw new RuntimeException("transient")
        Seq((1L, "ok")).toDF("id", "v")
      }
    }
    val ms = new Metastore(spark)
    ms.register(MetaTable("r1", tmpDir("rty_") + "/r1"))
    ms.register(MetaTable("r2", tmpDir("rty_") + "/r2"))
    val ok = new Orchestrator(ms).run(Seq(
      JobDef("flaky_ok", "r1", new Flaky(2), retries = 2)), d)
    assert(ok.head.isInstanceOf[TaskResult.Succeeded], s"got ${ok.head}")
    val bad = new Orchestrator(ms).run(Seq(
      JobDef("flaky_bad", "r2", new Flaky(2), retries = 1)), d)
    assert(bad.head.isInstanceOf[TaskResult.Failed])
  }

  test("CmdLineSink stages CSV then runs the command; failures surface") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("exp", tmpDir("cmd_") + "/exp"))
    ms.saveTable("exp", d, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))

    val staging = tmpDir("cmdstage_")
    val marker = s"$staging/done.marker"
    val sink = new CmdLineSink(staging, s"cp @path/_SUCCESS $marker")
    val res = new SinkJob(ms, sink).run("exp", d)
    assert(res.recordsSent == 3)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "command must have run against the staged path")

    val failing = new CmdLineSink(staging, "false")
    assertThrows[RuntimeException](new SinkJob(ms, failing).run("exp", d))
  }

  test("CmdLineSink r17 review pins: chatty command, spaced paths, multiline CSV count") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("exp2", tmpDir("cmd2_") + "/exp2"))
    // one value carries an embedded newline: the staged CSV quotes it,
    // and the @count recount must read it as ONE record (multiLine),
    // not split it across physical lines
    ms.saveTable("exp2", d,
      Seq((1L, "line1\nline2"), (2L, "plain"), (3L, "x")).toDF("id", "v"))

    // staging dir WITH A SPACE + a command that floods stdout well past
    // the 64KB pipe buffer: un-drained, the child blocks forever and a
    // healthy run dies as a timeout; naively split, the spaced path
    // arrives as two argv entries
    val staging = tmpDir("cmd sp_")
    assert(staging.contains(" "), s"fixture must carry a space: $staging")
    val marker = s"$staging/done2.marker"
    val sink = new CmdLineSink(staging,
      "sh -c 'head -c 200000 /dev/zero | tr \"\\0\" x; ls \"@path/_SUCCESS\" > \"" +
        marker + "\"'", timeoutSeconds = 60)
    val res = new SinkJob(ms, sink).run("exp2", d)
    assert(res.recordsSent == 3,
      s"embedded-newline row must count once: ${res.recordsSent}")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "command must survive >64KB output and a spaced staging path")
    // failure reports carry the output tail
    val failTail = new CmdLineSink(staging, "sh -c 'echo the-actual-reason; exit 3'")
    val e = intercept[RuntimeException](new SinkJob(ms, failTail).run("exp2", d))
    assert(e.getMessage.contains("the-actual-reason"),
      s"failure must carry the drained output tail: ${e.getMessage}")
  }
}
