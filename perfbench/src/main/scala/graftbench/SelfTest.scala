package graftbench

/** Self-tests of the benchmark's statistics and attribution code. They
  * run at the start of every benchmark run, so no figure is emitted
  * from code that fails them; `--self-test` runs them alone. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"perfbench self-test failed: $what")

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def run(): Unit = {
    // percentile with at least ten samples beyond it
    check(Stats.supportedTail((1 to 20).map(_.toDouble)).isEmpty, "20 samples support no tail")
    check(Stats.supportedTail((1 to 21).map(_.toDouble)).contains((100.0 * 11 / 21, 11.0)),
      "21 samples: the 11th value has ten beyond it")
    val hundred = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    check(Stats.supportedTail(hundred).contains((90.0, 90.0)), "100 samples support p90 = 90")
    check(Stats.percentile(hundred, 50) == 50.0 && Stats.percentile(hundred, 90) == 90.0, "nearest rank")
    check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of an even count")

    // interval union behind idle_s and driver_gap_s
    check(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L, "overlapping union")
    check(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12L, "nested and touching")
    check(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L, "empty intervals")
    check(Stats.uncovered((0L, 100L), Seq((-10L, 20L), (50L, 60L), (90L, 200L))) == 60L, "clipped gaps")
    check(Stats.uncovered((0L, 100L), Nil) == 100L, "nothing covered")

    // quartile spread, matching Python's statistics.quantiles(n=4)
    def q(xs: Double*) = Stats.quartiles(xs)
    check(q((1 to 10).map(_.toDouble): _*) == ((2.75, 5.5, 8.25)), "quartiles of 1..10")
    check(q(1, 2, 3, 4) == ((1.25, 2.5, 3.75)), "quartiles of 1..4")
    check(q(5, 1) == ((0.0, 3.0, 6.0)), "quartiles of two samples")
    check(q(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5) == ((2.0, 4.0, 5.0)), "quartiles of eleven samples")
    check(close(Stats.quartileSpread((1 to 10).map(_.toDouble)), 5.5 / 5.5), "spread of 1..10")

    // attribution of Spark jobs to curation stages by job label
    def job(group: String, desc: String, taskMs: Long) =
      JobRec(0, 0L, 1L, group, desc, -1L, 1, 1, taskMs, 0L, 0L, 0L, 0L, 0L)
    val jobs = Seq(
      job("curation-overlap-1", "curation: shared exact/minhash dup probe", 5),
      job("curation-overlap-1", "curation: semdedup fit + drop list", 7),
      job("curation-overlap-1", "semdedup: identity pre-group + size gate", 1),
      job("curation-overlap-1", "curation: perplexity reference fit", 2),
      job("curation-overlap-1", "curation: near-dup pair groups", 3),
      job("graft-task-curate-2024-05-01-1", "", 11),
      job("graft-task-export_curated-2024-05-01-2", "", 13))
    val byStage = Stats.attribute[JobRec](jobs, Layers.stageOf, _.taskMs.toDouble)
    check(byStage == Map("dup_probe" -> 5.0, "semdedup_fit" -> 8.0, "ppl_fit" -> 2.0, "pair_groups" -> 3.0,
      "output_pass" -> 11.0), s"stage attribution: $byStage")

    // self time: a parent's duration minus what its children cover
    val spans = Seq(Span(1, 0, "iteration", "i", 0, 100), Span(2, 1, "pipeline", "p", 10, 90),
      Span(3, 2, "task", "a", 10, 50), Span(4, 2, "task", "b", 40, 80))
    check(Spans.selfTime(spans) == Map("iteration" -> 0.02, "pipeline" -> 0.01, "task" -> 0.08), "self time")

    // locale-independent JSON numbers
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      check(Stats.json(1234.5) == "1234.5" && Stats.fmt(0.25, 2) == "0.25", "numbers ignore the locale")
    } finally java.util.Locale.setDefault(saved)
  }
}
