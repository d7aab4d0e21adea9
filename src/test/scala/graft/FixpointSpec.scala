package graft

import graft.operators.Fixpoint
import org.scalatest.funsuite.AnyFunSuite

/** Fixpoint contracts: the round cap fails loudly and names the loop,
  * the round count is the number of step calls, and the exact-sum
  * convergence probe neither wraps nor rounds.
  */
class FixpointSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("a step that never finishes throws after exactly maxRounds calls") {
    var calls = 0
    val e = intercept[IllegalStateException] {
      Fixpoint.iterate("neverDone", 7, 0) { s => calls += 1; (s + 1, false) }
    }
    assert(calls == 7)
    assert(e.getMessage.contains("neverDone"), e.getMessage)
    assert(e.getMessage.contains("7 rounds"), e.getMessage)
  }

  test("a step that finishes on round k returns rounds == k after k calls") {
    for (k <- Seq(1, 3, 7)) {
      var calls = 0
      val (state, rounds) = Fixpoint.iterate("doneAtK", 7, 0) { s =>
        calls += 1
        (s + 10, calls == k)
      }
      assert(rounds == k && calls == k && state == 10 * k, s"k=$k")
    }
  }

  test("exactSum: 0 on an empty frame, exact past the Long range") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("label")
    assert(Fixpoint.exactSum(empty, "label") == java.math.BigDecimal.ZERO)
    val big = Seq(Long.MaxValue, Long.MaxValue).toDF("label")
    val want = (BigDecimal(Long.MaxValue) * 2).bigDecimal
    assert(Fixpoint.exactSum(big, "label").compareTo(want) == 0)
  }
}
