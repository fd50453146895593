package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.rel.Tables

/** The serve-budget-vs-n rule (round-15 verdict item 1): walk budgets
  * must grow with corpus size — `descent_lifecycle_r15.json` measured
  * the fixture defaults (32, 3, 64) at recall 0.84 on a 1.7×10⁶-row
  * corpus where (96, 4, 256) read 1.0. [[Similarity.beamBudgetFor]]
  * encodes that relationship the way [[Similarity.knnGraphAuto]]
  * encodes the build crossover; this spec pins the arm selection and
  * the serving entry points' auto default. The three-scale recall
  * evidence (rule budget + previous-step counterfactual per scale)
  * lives in the committed BeamBudgetRuleProbe artifact
  * (`beam_budget_rule_r17.json`). */
class BeamBudgetRuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.Sf0001

  test("at or below the reference scale the rule is the IDENTITY on the " +
    "measured fixture budgets — declared-query bytes cannot move") {
    for (n <- Seq(1L, 500L, 2000L, Similarity.BeamBudgetRefN))
      assert(Similarity.beamBudgetFor(n) == Similarity.BeamBudget(32, 3, 64),
        s"n=$n must resolve to the fixture defaults")
  }

  test("per decade above the reference the beam doubles, rounds gain one, " +
    "entries double, with the decade count rounded up from the half-decade " +
    "point — dominating every measured point") {
    // 2×10⁵ (2× ref): step 1 — measured recall 1.000 there
    // (beam_budget_rule_r17.json)
    assert(Similarity.beamBudgetFor(200000L) ==
      Similarity.BeamBudget(64, 4, 128))
    // 8.5×10⁵ (8.5× ref, the decade's tail): step 2 — step 1 measured
    // 0.92 at this n (beam_budget_rule_r17.json's prev_recall row),
    // below the 0.95 bar
    assert(Similarity.beamBudgetFor(850000L) ==
      Similarity.BeamBudget(128, 5, 256))
    val at17 = Similarity.beamBudgetFor(1700000L)
    assert(at17 == Similarity.BeamBudget(128, 5, 256))
    // the r15 lifecycle point: (96, 4, 256) read recall 1.0 at this n;
    // the rule must never emit LESS than that measured-sufficient budget
    assert(at17.beamWidth >= 96 && at17.rounds >= 4 && at17.entries >= 256)
    assert(Similarity.beamBudgetFor(100000000L) ==
      Similarity.BeamBudget(512, 7, 1024))
  }

  test("the rule is monotone in n and capped at five decades (the " +
    "billion-vector regime)") {
    val ns = Seq(10L, 1000L, 100000L, 100001L, 1000000L, 10000000L,
      1000000000L, 100000000000L, Long.MaxValue / 4)
    val bs = ns.map(Similarity.beamBudgetFor)
    bs.sliding(2).foreach { case Seq(a, b) =>
      assert(a.beamWidth <= b.beamWidth && a.rounds <= b.rounds &&
        a.entries <= b.entries, s"rule not monotone: $a then $b")
    }
    assert(bs.last == Similarity.BeamBudget(32 << 5, 8, 64 << 5),
      "the five-decade cap bounds the budget at any n")
    // the rule IS its step count mapped through the step budget, so a
    // previous-step counterfactual built as beamBudgetAt(steps - 1)
    // tracks any change to the rule's constants
    ns.foreach { n =>
      assert(Similarity.beamBudgetFor(n) ==
        Similarity.beamBudgetAt(Similarity.beamStepsFor(n)), s"n=$n")
    }
    assert(Similarity.beamStepsFor(Similarity.BeamBudgetRefN) == 0)
    assert(Similarity.beamStepsFor(ns.last) == 5)
  }

  test("serving with the auto default (-1 knobs) at gate scale is " +
    "byte-identical to the explicit fixture budget — the rule changes " +
    "nothing below the reference scale") {
    val emb = Tables.load(spark, dir, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val auto = rows(Similarity.beamSearchAnn(
      emb, "vec_id", "embedding", 0L until 10L, k = 5, graphK = 8))
    val manual = rows(Similarity.beamSearchAnn(
      emb, "vec_id", "embedding", 0L until 10L, k = 5, graphK = 8,
      beamWidth = 32, rounds = 3, entries = 64))
    assert(auto == manual,
      "auto budget at n=500 must resolve to exactly (32, 3, 64)")
  }

  test("an explicit knob wins over the rule knob-by-knob") {
    // mixed resolution: explicit beam, auto rounds/entries — exercised
    // through the serving entry point so the partial-sentinel path in
    // resolveBudget is the thing under test
    val emb = Tables.load(spark, dir, "embeddings")
    val mixed = Similarity.beamSearchAnn(
      emb, "vec_id", "embedding", 0L until 3L, k = 5, graphK = 8,
      beamWidth = 48).collect()
    val full = Similarity.beamSearchAnn(
      emb, "vec_id", "embedding", 0L until 3L, k = 5, graphK = 8,
      beamWidth = 48, rounds = 3, entries = 64).collect()
    assert(mixed.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }
}
