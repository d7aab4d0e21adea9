package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}

/** The driver-side loop behind every data-dependent fixpoint in graft
  * (min-label CC, pointer-jump CC, Borůvka, SCC). One policy lives
  * here: a fixpoint that hits its round cap FAILS LOUDLY and names
  * itself — an unconverged state is a wrong answer (fractured
  * components, a partial forest), and silently diverging from the
  * oracle's fixpoint is worse than failing. Fixed-round loops and
  * budgeted peels whose cap is part of their semantics do not belong
  * here: for them reaching the cap is a normal exit.
  */
object Fixpoint {

  /** Runs `step` from `init` until it reports done. Each call is one
    * round and returns (next state, done). Returns the final state and
    * the number of rounds taken (≥ 1); throws an
    * IllegalStateException naming `name` and `maxRounds` when round
    * `maxRounds` still reports not done. */
  def iterate[S](name: String, maxRounds: Int, init: S)
      (step: S => (S, Boolean)): (S, Int) = {
    var state = init
    var round = 0
    while (round < maxRounds) {
      val (next, done) = step(state)
      state = next
      round += 1
      if (done) return (state, round)
    }
    throw new IllegalStateException(
      s"$name: not converged in $maxRounds rounds")
  }

  /** Exact DECIMAL(38,0) sum of an integral column — the convergence
    * probe of monotone label fixpoints. A round that only lowers (or
    * only raises) labels moves this sum strictly until the fixpoint
    * and leaves it equal exactly at it, so one scalar agg over the
    * checkpointed frame replaces a per-round change-detection join.
    * No float, no overflow wrap at any id magnitude; 0 on an empty
    * frame. */
  def exactSum(df: DataFrame, column: String): java.math.BigDecimal = {
    val v = df.agg(sum(col(column).cast("decimal(38,0)"))).head().get(0)
    if (v == null) java.math.BigDecimal.ZERO
    else v.asInstanceOf[java.math.BigDecimal]
  }
}
