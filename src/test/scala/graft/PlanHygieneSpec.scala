package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-inventory physical-plan audit: every SparkEntry query is planned
  * at sf0.001 and screened for CartesianProduct — the unconditional
  * scale-killer (unbounded row multiplication with no broadcast bound).
  * Per-query PlanSpec pins assert the SHAPES each operator promises; this
  * spec is the regression net that catches a new or refactored query
  * silently planning an all-pairs join no pin covers yet.
  *
  * BroadcastNestedLoopJoin is deliberately NOT screened here: the
  * 1-row/k-row broadcast stat frame (global threshold, total, mean,
  * centers) is the established pattern in 50+ queries (the q22 PlanSpec
  * pin calls it out as the CORRECT shape) — a blanket BNLJ rule has no
  * signal. The per-query pins forbid it exactly where a loop over a
  * corpus-scale side could hide (similarity joins, winnowing pairs,
  * dedup candidates, LSH kNN).
  *
  * Planning is lazy (no jobs run for the plan itself) but driver-side
  * replay builders (BPE merges, Lloyd rounds, the BT win-matrix collect)
  * do execute while constructing their frames — that is what keeps this
  * suite at sf0.001.
  */
final class PlanHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** MLlib-internal cross join: ALS `recommendForAllUsers` cross-joins
    * the user- and item-factor BLOCKS by design (every user×item pair is
    * scored for the top-k; the blocking bounds each side) — library
    * behavior, not a graft plan choice.
    */
  private val cartesianAllowed: Set[String] = Set("q_als_recs")

  test("no query plans an un-whitelisted CartesianProduct") {
    val cartesian = scala.collection.mutable.ListBuffer.empty[String]
    val threw = scala.collection.mutable.ListBuffer.empty[String]
    try {
      for (q <- SparkEntry.queries.keys.toSeq.sorted) {
        try {
          val p = SparkEntry.queries(q)(spark, TestSpark.Sf0001)
            .queryExecution.executedPlan.toString
          if (p.contains("CartesianProduct") && !cartesianAllowed(q)) cartesian += q
        } catch { case e: Throwable => threw += s"$q: ${e.getMessage}" }
      }
    } finally {
      // several builders persist subtrees (q_sgd_det's quantized features,
      // the PPJoin chain) — a leaked InMemoryRelation would change OTHER
      // suites' plans (PlanSpec's flagship one-exchange pin matched the
      // cached sessionFeatures subtree and counted its extra exchange)
      GraftSession.release(spark)
    }
    assert(threw.isEmpty, s"queries failed to plan: ${threw.mkString("; ")}")
    assert(cartesian.isEmpty,
      s"CartesianProduct in: ${cartesian.mkString(", ")}")
  }
}
