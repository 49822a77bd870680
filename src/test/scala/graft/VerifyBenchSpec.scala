package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** The failure channel of the round artifacts: a query that throws
  * must surface as an explicit error artifact (Verify) / a "failed"
  * entry (Bench), never as a missing row or a timed throw — the r10
  * q_sessionize regression shipped invisibly through exactly this
  * hole. */
class VerifyBenchSpec extends SparkSpec {
  import VerifyBenchSpec.Row

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")
  private val boom: (SparkSession, String) => DataFrame =
    (s, _) => s.range(1).toDF("id").select(org.apache.spark.sql.functions.expr("no_such_fn(id)"))

  test("Verify.dump writes parquet for good queries and an _error.txt marker for failed ones") {
    val out = tmpDir("graft_verify_fail")
    val failures = Verify.dump(spark, "/nonexistent", out,
      Map("q_ok" -> good, "q_broken" -> boom))
    assert(failures.keySet === Set("q_broken"))
    // good query produced readable parquet
    assert(spark.read.parquet(s"$out/q_ok").count() === 3)
    // failed query left a LOUD artifact: a dir that exists but carries
    // only the error marker, so a downstream parquet read errs rather
    // than silently skipping the query
    val qDir = Paths.get(out, "q_broken")
    assert(Files.exists(qDir.resolve("_error.txt")))
    val marker = Files.readString(qDir.resolve("_error.txt"))
    assert(marker.toLowerCase.contains("no_such_fn"))
    import scala.jdk.CollectionConverters._
    assert(!Files.list(qDir).iterator().asScala.exists(_.toString.endsWith(".parquet")),
      "a failed query must not leave partial parquet output")
    intercept[Exception](spark.read.parquet(s"$out/q_broken").collect())
  }

  test("Verify.dump wipes stale parquet when a previously-green query starts failing") {
    val out = tmpDir("graft_verify_stale")
    Verify.dump(spark, "/nonexistent", out, Map("q_flip" -> good))
    assert(spark.read.parquet(s"$out/q_flip").count() === 3)
    val failures = Verify.dump(spark, "/nonexistent", out, Map("q_flip" -> boom))
    assert(failures.contains("q_flip"))
    // yesterday's good answer must not survive as today's fake pass
    intercept[Exception](spark.read.parquet(s"$out/q_flip").collect())
    assert(Files.exists(Paths.get(out, "q_flip", "_error.txt")))
  }

  test("Verify.toJson escapes quotes, backslashes and control chars") {
    val js = Verify.toJson(Map("q" -> "a \"b\"\\\n\tc\u0001"))
    assert(js === "{\"q\": \"a \\\"b\\\"\\\\\\n\\tc\\u0001\"}")
  }

  test("every sf1-tracked name resolves to a registered query") {
    val missing = Bench.Sf1Names.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty,
      s"sf1 tracking would silently lose renamed queries: $missing")
    assert(Bench.Sf1Names.distinct == Bench.Sf1Names, "no duplicate sf1 entries")
  }

  test("Bench.timeQuery returns Right for a working query and Left for a throwing one") {
    val ok = Bench.timeQuery(spark, "q_ok", good, "/nonexistent", 2)
    assert(ok.isRight && ok.toOption.get > 0.0)
    val bad = Bench.timeQuery(spark, "q_broken", boom, "/nonexistent", 2)
    assert(bad.isLeft, "a throwing query must never produce a timed entry")
    assert(Bench.jsonVal(bad) === "\"failed\"")
    assert(Bench.jsonVal(ok) === ok.toOption.get.toString)
  }

  test("resetSessionState clears cached plans AND checkpoint blocks, so gates are hermetic") {
    import spark.implicits._
    // the r14 lesson: checkpoint blocks accumulated across 122 gates
    // and the regression tripwire fired on untouched queries (12.3 s
    // in-sweep vs 0.89 s isolated). The reset must drop BOTH caches —
    // the cache manager and getPersistentRDDs (where localCheckpoint
    // blocks live).
    val cached = (1L to 100L).toDF("x").cache()
    cached.count()
    val cp = (1L to 100L).toDF("y").localCheckpoint(true)
    cp.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Bench.resetSessionState(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "persisted RDDs (incl. localCheckpoint blocks) must be gone")
    // a timed run after the reset still works (recompute from lineage
    // for plain caches; checkpointed frames are per-run rebuilds)
    assert(cached.count() == 100)
  }

  /** A prior bench line carrying the three history rounds, in the
    * shape the previous round's bench.json has. */
  private def priorLine(prior: Map[String, Double], h2: Map[String, Double] = Map.empty,
                        h3: Map[String, Double] = Map.empty, suffix: String = ""): String =
    s"""{"queries$suffix":${Bench.mapJson(prior)},"queries${suffix}_h2":${Bench.mapJson(h2)},""" +
      s""""queries${suffix}_h3":${Bench.mapJson(h3)}}"""

  test("regression self-attribution: isolated medians back within 1.5x of prior are labeled noise") {
    val results: Seq[(String, Either[String, Double])] = Seq(
      "q_contended" -> Right(12.0), // sweep says 12x, isolated says 1.1x: host contention
      "q_slower" -> Right(4.0),     // isolated confirms the slowdown
      "q_faster" -> Right(0.4),     // a "speedup" that stays fast deserves a look too
      "q_edge" -> Right(2.0),       // isolated lands exactly on the 1.5x bound
      "q_broken" -> Right(3.0))     // throws when re-run alone
    val isolated = Map[String, Either[String, Double]]("q_contended" -> Right(1.1), "q_slower" -> Right(4.0),
      "q_faster" -> Right(0.4), "q_edge" -> Right(1.5), "q_broken" -> Left("boom"))
    val section = Bench.regressionSection(results,
      priorLine(Map("q_contended" -> 1.0, "q_slower" -> 1.0, "q_faster" -> 3.0,
        "q_edge" -> 1.0, "q_broken" -> 1.0)),
      "queries", "", floor = 0.1, rerun = Some(isolated))
    def entry(q: String) = s""""query":"$q"[^}]*""".r.findFirstIn(section).getOrElse("")
    assert(entry("q_contended").contains(""""reference":1.000,"in_sweep":12.000,"ratio":12.00""") &&
      entry("q_contended").contains(""""isolated":1.100,"ratio_isolated":1.10,"verdict":"noise""""),
      section)
    assert(entry("q_slower").contains(""""verdict":"moved""""), section)
    assert(entry("q_faster").contains(""""ratio_isolated":0.13,"verdict":"moved""""), section)
    assert(entry("q_edge").contains(""""verdict":"noise""""), s"within 1.5x is noise: $section")
    assert(entry("q_broken").contains(""""isolated":"failed","verdict":"moved""""), section)
    // without attribution the entries carry the sweep numbers only
    val bare = Bench.regressionSection(results, priorLine(Map("q_slower" -> 1.0)),
      "queries", "", floor = 0.1, rerun = None)
    assert(bare.contains("""{"query":"q_slower","reference":1.000,"in_sweep":4.000,"ratio":4.00,"source":"sweep"}"""),
      bare)
  }

  test("sweep flag threshold matches regressionVerdict's 1.5x noise bound (no 1.5-3x blind spot)") {
    // r17 post-mortem: a 3x trigger against a 1.5x noise bound left
    // every 1.5-3x drift un-isolated. The trigger is the noise bound,
    // in BOTH directions, above the floor.
    val results: Seq[(String, Either[String, Double])] = Seq(
      "q_drift" -> Right(2.2),   // 2.2x slower — inside the old blind spot
      "q_fast" -> Right(0.5),    // 2x faster — also flagged (lost work?)
      "q_steady" -> Right(1.4),  // 1.4x — legitimate noise, unflagged
      "q_edge" -> Right(1.5),    // exactly 1.5x — within the bound
      "q_tiny" -> Right(0.4),    // 2x move but sub-floor both sides — never flagged
      "q_gone" -> Left("boom"))  // failed: nothing to compare
    val prior = Map("q_drift" -> 1.0, "q_fast" -> 1.0, "q_steady" -> 1.0, "q_edge" -> 1.0,
      "q_tiny" -> 0.2, "q_gone" -> 1.0)
    val flags = Bench.flagMoves(results, prior, Map.empty, floor = 0.5)
    assert(flags.map(_.query) === Seq("q_drift", "q_fast"), flags.toString)
    assert(flags.forall(_.source == "sweep"))
  }

  test("hist_window: compounding sub-1.5x drifts flag vs min of the last 3 rounds' medians") {
    // r18 post-mortem: two consecutive 1.4x drifts multiply to 1.96x
    // without either round flagging, because each round compares only
    // to the refreshed prior.
    val results: Seq[(String, Either[String, Double])] = Seq(
      "q_creep" -> Right(1.96),  // 1.4x vs prior (unflagged), 1.96x vs hist floor
      "q_flat" -> Right(1.05),   // inside both windows
      "q_jump" -> Right(3.0),    // plain sweep flag: must NOT double-report as hist
      "q_quick" -> Right(0.6))   // 0.6x of the floor: only slowdowns compound
    val prior = Map("q_creep" -> 1.4, "q_flat" -> 1.0, "q_jump" -> 1.0, "q_quick" -> 0.8)
    val hist = Bench.histMinOf(Seq(prior,
      Map("q_creep" -> 1.0, "q_flat" -> 1.0, "q_quick" -> 1.0),
      Map("q_creep" -> 1.2)))
    assert(hist === Map("q_creep" -> 1.0, "q_flat" -> 1.0, "q_jump" -> 1.0, "q_quick" -> 0.8))
    val flags = Bench.flagMoves(results, prior, hist, floor = 0.5)
    assert(flags === Seq(
      Bench.Flag("q_jump", 1.0, 3.0, "sweep"),
      Bench.Flag("q_creep", 1.0, 1.96, "hist_window")), flags.toString)
  }

  test("hist_window verdict ignores the self-extended band; history carry shifts by one round") {
    // a hist_window flag is judged against the 3-round floor it was
    // flagged on: an isolated run still far above that floor is "moved",
    // whatever range the query's recent medians spanned
    val crept = Bench.regressionSection(Seq("q" -> Right(1.9)),
      priorLine(Map("q" -> 1.4), Map("q" -> 1.2), Map("q" -> 1.0)),
      "queries", "", floor = 0.1, rerun = Some(_ => Right(1.8)))
    assert(crept.contains(""""reference":1.000,"in_sweep":1.900,"ratio":1.90,"source":"hist_window",""" +
      """"isolated":1.800,"ratio_isolated":1.80,"verdict":"moved""""), crept)
    // a prior file written by the earlier multi-round tripwire: its
    // band, pending and flagged sections must neither break the parse
    // nor survive into this round's output
    val old = """{"metric":"total","queries":{"q":1.000,"r":2.000},"pending_real":{"q":0.500},""" +
      """"band_lo":{"q":0.100},"band_hi":{"q":9.000},"queries_h2":{"q":0.900},""" +
      """"queries_h3":{"q":0.800},"flagged":["q"],"flagged_h2":[],"flagged_h3":[],""" +
      """"queries_sf1":{"q":10.000},"queries_sf1_h2":{"q":11.000},"queries_sf1_h3":{},""" +
      """"pending_real_sf1":{},"band_lo_sf1":{"q":1.000},"value":3.0}"""
    val results: Seq[(String, Either[String, Double])] = Seq("q" -> Right(1.1), "r" -> Right(2.0))
    val section = Bench.regressionSection(results, old, "queries", "", floor = 0.1, rerun = None)
    assert(section === ""","regressions":[],"queries_h2":{"q":1.000,"r":2.000},"queries_h3":{"q":0.900}""",
      section)
    // next round reads this round's line back: three rounds of history
    val next = s"""{"queries":{"q":1.100,"r":2.000}$section}"""
    assert(Bench.histMinOf(Seq("queries", "queries_h2", "queries_h3")
      .map(Bench.parsePriorSection(next, _))) === Map("q" -> 0.9, "r" -> 2.0))
    // the sf1 spelling rides the same helper
    val sf1 = Bench.regressionSection(Seq("q" -> Right(10.5)), old, "queries_sf1", "_sf1",
      floor = 0.5, rerun = None)
    assert(sf1 === ""","regressions_sf1":[],"queries_sf1_h2":{"q":10.000},"queries_sf1_h3":{"q":11.000}""",
      sf1)
    // no prior round at all: nothing to compare, nothing to carry
    assert(Bench.regressionSection(results, "", "queries", "", 0.1, None) === "")
    // the committed prior capture, written by the earlier tripwire, still reads
    val committed = Files.readString(Paths.get("bench_prior.json"))
    val priorMedians = Bench.parsePriorSection(committed, "queries")
    assert(priorMedians.size > 100)
    val replayed = Bench.regressionSection(priorMedians.toSeq.map { case (k, v) => k -> Right(v) },
      committed, "queries", "", floor = 0.1, rerun = None)
    assert(replayed.contains(s""""queries_h2":${Bench.mapJson(priorMedians)},"queries_h3":{"""),
      replayed.take(200))
  }

  test("bench output uses '.' decimals under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${1.5}%.1f" === "1,5", "the spec must actually run under a comma locale")
      val results: Seq[(String, Either[String, Double])] = Seq(
        "q_a" -> Right(1.23456), "q_b" -> Left("boom"))
      val cg = ""","codegen_failures":{"total":0,"queries":{}}"""
      val compact = Bench.compactLine(results, 3, 1, "/d", cg, "null")
      assert(compact.contains(""""q_a":1.235"""), compact)
      val section = Bench.regressionSection(results, priorLine(Map("q_a" -> 0.5), Map("q_a" -> 0.25)),
        "queries", "", floor = 0.1, rerun = Some(_ => Right(0.75)))
      val full = Bench.fullLine(results, 3, 1, "/d", section, cg, "null")
      assert(full.contains(""""reference":0.500,"in_sweep":1.235,"ratio":2.47""") &&
        full.contains(""""isolated":0.750,"ratio_isolated":1.50""") &&
        full.contains(""""queries_h2":{"q_a":0.500},"queries_h3":{"q_a":0.250}"""), full)
      Seq(compact, full).foreach(l => assert(!"""\d,\d""".r.findFirstIn(l).isDefined, l))
    } finally java.util.Locale.setDefault(saved)
  }

  /** Every regression entry recorded in the committed bench artifacts,
    * as (artifact[:pass], query, prior median, h2, h3, in-sweep median,
    * old source, old verdict). The medians for bench_sf10_r20 and bench
    * come from bench_prior.json, the prior file of both runs; for the
    * earlier artifacts no history carry was committed, so `prior` is
    * the entry's own. The two bench_prior rows are the hist_window
    * suspects its successors re-checked: their history is bench_prior's
    * queries_h2/h3 shifted back one round, and h3 is the floor the
    * entry recorded (the older carry was never committed). */
  private val replay = Seq(
    Row("bench_r16_full:sf1", "q_contamination_report", 44.493, None, None, 2.767, "sweep", "real"),
    Row("bench_r17_full", "q_ann_pq_refine", 1.097, None, None, 0.363, "sweep", "suspect"),
    Row("bench_r17_full:sf1", "q_ann_pq_refine", 8.958, None, None, 0.992, "sweep", "suspect"),
    Row("bench_r17_full:sf1", "q_ann_pq", 9.382, None, None, 1.075, "sweep", "suspect"),
    Row("bench_sf10_r18", "q_html_extract", 0.207, None, None, 0.207, "pending_recheck", ""),
    Row("bench_prior", "q_dedup_groups", 0.668, Some(1.374), Some(0.542), 0.881, "hist_window", "suspect"),
    Row("bench_prior", "q_token_budget_str", 0.777, Some(0.741), Some(0.452), 0.697, "hist_window", "suspect"),
    Row("bench_sf10_r20", "q_bigram_ppl", 1.516, Some(1.281), Some(1.919), 0.980, "sweep", "noise"),
    Row("bench_sf10_r20", "q_ann_quant", 0.226, Some(0.219), Some(0.398), 0.342, "sweep", "noise"),
    Row("bench_sf10_r20", "q_video_frames", 0.297, Some(0.191), Some(0.191), 0.334, "hist_window", "noise"),
    Row("bench_sf10_r20", "q_ngram_freq", 0.545, Some(0.728), Some(0.494), 0.805, "hist_window", "noise"),
    Row("bench_sf10_r20", "q_ann_pq_refine", 0.341, Some(0.316), Some(0.374), 0.504, "hist_window", "noise"),
    Row("bench_sf10_r20", "q_dedup_jaccard", 2.205, Some(1.658), Some(2.132), 2.588, "hist_window", "noise"),
    Row("bench_sf10_r20", "q_dedup_groups", 0.881, Some(0.668), Some(1.374), 0.518, "pending_recheck_hist", "real"),
    Row("bench_sf10_r20", "q_token_budget_str", 0.697, Some(0.777), Some(0.741), 0.738, "pending_recheck_hist", "real"),
    Row("bench", "q_frontier", 0.365, Some(0.334), Some(0.404), 1.447, "sweep", "noise"),
    Row("bench", "q_value_sketch", 0.249, Some(0.268), Some(0.310), 0.863, "sweep", "noise"),
    Row("bench", "q_identity_transform", 0.439, Some(0.426), Some(0.702), 1.485, "sweep", "noise_band"),
    Row("bench", "q_broadcast_join", 0.242, Some(0.241), Some(0.450), 0.759, "sweep", "noise_band"),
    Row("bench", "q_py_transform", 1.125, Some(1.034), Some(1.899), 3.177, "sweep", "noise"),
    Row("bench", "q_charset_decode", 0.124, Some(0.123), Some(0.152), 0.336, "sweep", "noise"),
    Row("bench", "q_ann_multi", 0.177, Some(0.168), Some(0.324), 0.460, "sweep", "noise"),
    Row("bench", "q_hybrid_search", 0.987, Some(0.922), Some(1.573), 2.376, "sweep", "noise"),
    Row("bench", "q_case_expr", 0.200, Some(0.166), Some(0.313), 0.464, "sweep", "noise"),
    Row("bench", "q_corpus_shuffle", 0.593, Some(0.591), Some(0.497), 0.259, "sweep", "suspect"),
    Row("bench", "q_anti_join", 0.177, Some(0.166), Some(0.243), 0.403, "sweep", "noise"),
    Row("bench", "q_contamination_report", 1.643, Some(1.208), Some(1.862), 0.727, "sweep", "suspect"),
    Row("bench", "q_ann_ivf", 0.833, Some(0.741), Some(1.042), 1.850, "sweep", "noise"),
    Row("bench", "q_freq_items", 0.546, Some(0.497), Some(0.546), 1.067, "sweep", "suspect"),
    Row("bench", "q_curation_v2", 6.912, Some(5.973), Some(15.319), 13.460, "sweep", "noise"),
    Row("bench", "q_topk", 0.110, Some(0.111), Some(0.150), 0.212, "sweep", "noise"),
    Row("bench", "q_decontam_bloom", 1.312, Some(1.334), Some(1.394), 0.722, "sweep", "suspect"),
    Row("bench", "q_bigram_ppl", 1.516, Some(1.281), Some(1.919), 0.844, "sweep", "noise_band"),
    Row("bench", "q_asof_join", 0.250, Some(0.270), Some(0.515), 0.448, "sweep", "noise"),
    Row("bench", "q_ngram_freq", 0.545, Some(0.728), Some(0.494), 0.928, "sweep", "suspect"),
    Row("bench", "q_dedup_minhash", 2.687, Some(2.652), Some(3.503), 1.608, "sweep", "noise_band"),
    Row("bench", "q_semi_join", 0.186, Some(0.244), Some(0.301), 0.301, "sweep", "noise"),
    Row("bench", "q_dedup_exact", 0.683, Some(0.688), Some(0.952), 0.424, "sweep", "noise"),
    Row("bench", "q_mix_report", 0.612, Some(0.688), Some(0.507), 0.393, "sweep", "noise"),
    Row("bench", "q_curriculum", 0.942, Some(0.771), Some(0.874), 0.607, "sweep", "noise"),
    Row("bench", "q_perplexity", 0.794, Some(0.900), Some(0.946), 0.513, "sweep", "noise"),
    Row("bench", "q_audio_dedup", 0.975, Some(1.073), Some(1.073), 1.497, "sweep", "noise"),
    Row("bench", "q_bpe", 0.715, Some(0.640), Some(0.603), 0.467, "sweep", "noise_band"),
    Row("bench", "q_video_frames", 0.297, Some(0.191), Some(0.191), 0.349, "hist_window", "suspect"),
    Row("bench", "q_window", 0.339, Some(0.282), Some(0.342), 0.483, "hist_window", "noise"),
    Row("bench", "q_pii_scrub", 0.207, Some(0.175), Some(0.206), 0.283, "hist_window", "suspect"),
    Row("bench", "q_dedup_embed", 1.563, Some(1.215), Some(1.324), 1.884, "hist_window", "noise"),
    Row("bench", "q_dedup_groups", 0.881, Some(0.668), Some(1.374), 0.899, "pending_recheck_hist", "real"),
    Row("bench", "q_token_budget_str", 0.697, Some(0.777), Some(0.741), 0.440, "pending_recheck_hist", "noise"),
    Row("bench:sf1", "q_freq_items", 23.459, Some(4.788), Some(2.633), 5.545, "sweep", "suspect"),
    Row("bench:sf1", "q_video_dedup", 16.303, Some(4.642), Some(4.642), 5.087, "sweep", "noise_band"),
    Row("bench:sf1", "q_line_scrub", 1.539, Some(0.640), Some(0.784), 0.778, "sweep", "noise_band"),
    Row("bench:sf1", "q_sketch_distinct", 0.569, Some(0.555), Some(0.648), 1.000, "sweep", "noise"),
    Row("bench:sf1", "q_chunk_sentence", 1.768, Some(2.250), Some(2.233), 3.001, "sweep", "noise"),
    Row("bench:sf1", "q_token_budget", 1.521, Some(2.614), Some(1.077), 0.930, "sweep", "noise_band"),
    Row("bench:sf1", "q5_multi_join", 6.636, Some(3.469), Some(4.523), 4.270, "sweep", "noise"),
    Row("bench:sf1", "q_value_sketch", 0.520, Some(0.466), Some(0.787), 0.805, "sweep", "noise"),
    Row("bench:sf1", "q_audio_dedup", 5.424, Some(3.454), Some(3.454), 7.439, "hist_window", "suspect"),
    Row("bench:sf1", "q_dedup_minhash", 4.680, Some(6.679), Some(3.668), 6.222, "hist_window", "suspect"),
    Row("bench:sf1", "q_window", 1.239, Some(1.065), Some(1.217), 1.683, "hist_window", "noise")
  )

  private def flaggedNow(r: Row): Boolean = {
    val floor = if (r.round.endsWith(":sf1")) 0.5 else 0.1
    val hist = Seq(Some(r.prior), r.h2, r.h3).flatten.min
    Bench.flagMoves(Seq(r.query -> Right(r.inSweep)), Map(r.query -> r.prior),
      Map(r.query -> hist), floor).nonEmpty
  }

  test("replay: every committed real/suspect sweep or hist_window entry still flags in its round") {
    val confirmed = replay.filter(r => Set("real", "suspect")(r.verdict) &&
      Set("sweep", "hist_window")(r.source))
    assert(confirmed.size == 16)
    val missed = confirmed.filterNot(flaggedNow)
    assert(missed.isEmpty, s"the 1.5x rule lost recorded moves: $missed")
  }

  test("replay: each pending recheck is covered by the round that first flagged the query") {
    val rechecks = replay.zipWithIndex.filter(_._1.source.startsWith("pending_recheck"))
    assert(rechecks.size == 5)
    rechecks.foreach { case (r, i) =>
      replay.take(i).find(f => f.query == r.query && !f.source.startsWith("pending")) match {
        case Some(first) => assert(flaggedNow(first), s"$first should flag, covering $r")
        case None =>
          // q_html_extract was first flagged in a round with no committed
          // artifact, and bench_sf10_r18 measured only q1_agg: the entry
          // echoes its carried prior as in_sweep, so there is no move
          assert(r.query == "q_html_extract" && r.inSweep == r.prior && !flaggedNow(r), r.toString)
      }
    }
  }

  test("replay: bench.json's q_dedup_groups speed-up is no longer reported as a regression") {
    // stamped "real" by the old state machine, yet its isolated run
    // (0.274 s) was twice as fast as the carried 0.542 s floor
    val r = replay.find(r => r.round == "bench" && r.query == "q_dedup_groups").get
    assert(r.verdict == "real")
    assert(!flaggedNow(r), r.toString)
  }

  test("stdout compact line: live medians only, failed entries kept, value LAST, no history sections") {
    // r21 (verdict item 2): stdout carries a short parseable line — the
    // full history line lives in bench.json only. The capture channel
    // keeps a ~2 KB stdout tail, so the compact line must never grow
    // the history carry / band / regression sections back.
    val results: Seq[(String, Either[String, Double])] = Seq(
      "q_a" -> Right(1.23456), "q_b" -> Left("boom"))
    val cg = ""","codegen_failures":{"total":0,"queries":{}}"""
    val line = Bench.compactLine(results, runs = 3, nFailed = 1,
      sfDir = "/d", cgJson = cg, totalJson = "null")
    assert(line.startsWith("""{"metric":"total""""), line)
    assert(line.endsWith(""""value":null}"""), s"value must ride the tail: $line")
    assert(line.contains(""""q_a":1.235"""), line)
    assert(line.contains(""""q_b":"failed""""), line)
    assert(!line.contains("queries_h2") && !line.contains("band_lo") &&
      !line.contains("regressions") && !line.contains("pending_real"),
      s"history sections must stay out of stdout: $line")
    // the line is parseable by the same section parser the prior file uses
    assert(Bench.parsePriorSection(line, "queries") === Map("q_a" -> 1.235))
  }

  test("parsePriorSection extracts the right section of a prior bench line") {
    val line = """{"metric":"total","queries":{"q_a":1.5,"q_b":0.25},""" +
      """"queries_sf1":{"q_a":12.5,"q_c":3.0},"value":1.75}"""
    assert(Bench.parsePriorSection(line, "queries") === Map("q_a" -> 1.5, "q_b" -> 0.25))
    assert(Bench.parsePriorSection(line, "queries_sf1") === Map("q_a" -> 12.5, "q_c" -> 3.0))
    assert(Bench.parsePriorSection(line, "queries_sf10") === Map.empty)
    assert(Bench.parsePriorSection("not json at all", "queries") === Map.empty)
  }
}

object VerifyBenchSpec {
  private final case class Row(round: String, query: String, prior: Double,
                               h2: Option[Double], h3: Option[Double], inSweep: Double,
                               source: String, verdict: String)
}
