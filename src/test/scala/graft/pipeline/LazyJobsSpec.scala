package graft.pipeline

import graft.SparkSpec
import graft.meta.{MetaTable, Metastore, MetastoreReader}
import org.apache.spark.sql.DataFrame

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

/** Lazy (on-demand) jobs: never scheduled, materialized when their
  * output table is read (reference: TransientJobManager). */
class LazyJobsSpec extends SparkSpec {
  import spark.implicits._

  private val d = LocalDate.parse("2024-06-15")

  private def freshMs(base: String, tables: String*): Metastore = {
    val ms = new Metastore(spark)
    tables.foreach(t => ms.register(MetaTable(t, s"$base/$t")))
    ms
  }

  test("a lazy job runs when read, once per slot, and is never scheduled") {
    val base = java.nio.file.Files.createTempDirectory("lazy_").toString
    val ms = freshMs(base, "seed", "helper", "final")
    ms.saveTable("seed", d, Seq((1L, 10L), (2L, 20L)).toDF("id", "x"))
    val lazyRuns = new AtomicInteger(0)
    val lazyJob = JobDef("helper_job", "helper", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame = {
        lazyRuns.incrementAndGet()
        r.getTable("seed", Some(dd), Some(dd)).selectExpr("id", "x * 2 AS doubled")
      }
    }, Seq("seed"), isLazy = true)
    val readerJob = JobDef("final_job", "final", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        r.getTable("helper", Some(dd), Some(dd)).selectExpr("id", "doubled + 1 AS y")
    }, Seq("helper"))

    val results = new Orchestrator(ms).run(Seq(lazyJob, readerJob), d)
    // only the scheduled job appears in the results
    assert(results.map { case TaskResult.Succeeded(j, _, _, _, _) => j; case r => r.toString }
      == Seq("final_job"), results.toString)
    assert(lazyRuns.get() == 1)
    assert(ms.getTable("final", Some(d), Some(d)).select("y").as[Long].collect().toSet
      == Set(21L, 41L))
    // materialize-once: a rerun re-reads the existing helper slot
    new Orchestrator(ms).runWith(Seq(lazyJob, readerJob), RunParams.Rerun(d))
    assert(lazyRuns.get() == 1, "existing lazy output must be served, not recomputed")
  }

  test("a lazy and a scheduled producer of one table are rejected up front") {
    val base = java.nio.file.Files.createTempDirectory("lazydup_").toString
    val ms = freshMs(base, "t")
    def producer(name: String, lzy: Boolean) = JobDef(name, "t", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        Seq((1L, name)).toDF("id", "src")
    }, isLazy = lzy)
    // the reader would materialize the lazy producer while the
    // scheduled one also writes the date — a silent double-write
    val e = intercept[IllegalArgumentException] {
      new Orchestrator(ms).run(Seq(producer("lz", lzy = true),
        producer("sched", lzy = false)), d)
    }
    assert(e.getMessage.contains("lazy") && e.getMessage.contains("t"), e.getMessage)
  }

  test("chained lazy jobs recurse; a cycle fails with a clear error") {
    val base = java.nio.file.Files.createTempDirectory("lazy_chain_").toString
    val ms = freshMs(base, "seed", "a", "b", "out")
    ms.saveTable("seed", d, Seq((1L, 5L)).toDF("id", "x"))
    val lazyB = JobDef("b_job", "b", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        r.getTable("seed", Some(dd), Some(dd)).selectExpr("id", "x * 10 AS xb")
    }, Seq("seed"), isLazy = true)
    val lazyA = JobDef("a_job", "a", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        r.getTable("b", Some(dd), Some(dd)).selectExpr("id", "xb + 1 AS xa")
    }, Seq("b"), isLazy = true)
    val outJob = JobDef("out_job", "out", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        r.getTable("a", Some(dd), Some(dd))
    }, Seq("a"))
    val rs = new Orchestrator(ms).run(Seq(lazyA, lazyB, outJob), d)
    assert(rs.head.isInstanceOf[TaskResult.Succeeded], rs.toString)
    assert(ms.getTable("out", Some(d), Some(d)).select("xa").as[Long].head() == 51L)

    // cycle: a lazy job reading its own output
    val base2 = java.nio.file.Files.createTempDirectory("lazy_cycle_").toString
    val ms2 = freshMs(base2, "c", "sink_t")
    val lazyC = JobDef("c_job", "c", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        r.getTable("c", Some(dd), Some(dd))
    }, Seq("c"), isLazy = true)
    val readC = JobDef("read_c", "sink_t", new Transformer {
      def run(r: MetastoreReader, dd: LocalDate, o: Map[String, String]): DataFrame =
        r.getTable("c", Some(dd), Some(dd))
    }, Seq("c"))
    new Orchestrator(ms2).run(Seq(lazyC, readC), d).head match {
      case TaskResult.Failed(_, e) =>
        assert(e.getMessage.contains("lazy-job cycle"), e.getMessage)
      case other => fail(s"cycle must fail the reading task, got $other")
    }
  }

  test("config: job.N.lazy = true parses and runs on demand end-to-end") {
    val base = java.nio.file.Files.createTempDirectory("lazy_cfg_").toString
    val ms0 = freshMs(base, "src_t")
    ms0.saveTable("src_t", d, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val parsed = PipelineConfig.parse(
      s"""pipeline.name = lazycfg
         |table.src_t.path = $base/src_t
         |table.mid.path = $base/mid
         |table.out_t.path = $base/out_t
         |job.1.name = mid_job
         |job.1.output = mid
         |job.1.transformer = sql
         |job.1.sql = SELECT id, v FROM src_t WHERE id <= 2
         |job.1.inputs = src_t
         |job.1.lazy = true
         |job.2.name = out_job
         |job.2.output = out_t
         |job.2.transformer = sql
         |job.2.sql = SELECT count(*) AS n FROM mid
         |job.2.inputs = mid
         |""".stripMargin)
    assert(parsed.jobs.find(_.name == "mid_job").exists(_.isLazy))
    val results = PipelineConfig.runParams(spark, parsed, RunParams.Normal(d, newOnly = true))
    assert(results.map(_.asInstanceOf[TaskResult.Succeeded].job) == Seq("out_job"),
      results.toString)
    val ms = freshMs(base, "out_t")
    assert(ms.getTable("out_t", Some(d), Some(d)).select("n").as[Long].head() == 2L)
  }
}
