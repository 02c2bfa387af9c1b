package graft.operators

import org.apache.spark.sql.DataFrame

/** The one driver behind every iterative DataFrame loop:
  * [[Dedup.connectedComponents]], [[Dedup.connectedComponentsStar]],
  * [[Dedup.labelPropagation]], [[Dedup.pageRank]] and
  * [[Temporal.sigmaClip]]. A loop supplies a start state and a round;
  * the driver owns the rest.
  *
  *  - Checkpoints. A pin is a lazy `localCheckpoint`: it swaps the plan
  *    for a leaf, and the first action that reads the frame writes it (a
  *    round that reads the previous state k times otherwise grows the
  *    plan k-fold per round until the optimizer stalls). A probed loop
  *    ([[untilSettled]]) pins every round, and its probe, one full-frame
  *    aggregate, is the one action that writes the pin. A fixed-round loop
  *    ([[rounds]]) pins a state only when the next round's analyzed
  *    plan would hold more than [[MaxLineage]] times the nodes of the
  *    first round built on its pinned start: every 5 rounds when a
  *    round reads the previous state once, every 2 when it reads it
  *    twice. It runs no action itself.
  *  - The round budget, and what an exhausted one does: [[Stop]]
  *    returns the last state, [[Fail]] throws.
  *  - Release. Pins are owned by the ContextCleaner. A probed loop may
  *    also hold `inputs`, persisted so the CacheManager knows their
  *    exact size once built (joins against them then plan as
  *    broadcasts), and unpersists them when it returns or throws: its
  *    last state is materialized and no longer reads them. A fixed-round
  *    loop's last rounds run in the caller's action, so its inputs are
  *    pinned, never held.
  *
  * A pin moves no value: rows are identical pinned or not. */
object Fixpoint {

  /** What a probed loop does when its round budget runs out. */
  sealed trait OnExhausted
  case object Stop extends OnExhausted
  final case class Fail(message: String) extends OnExhausted

  val MaxLineage = 5

  def pin(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Up to `maxRounds` rounds of `step` from `start`, until `settled`
    * holds on a round's pinned output; `settled` must read every row of
    * it. */
  def untilSettled(start: DataFrame, maxRounds: Int, onExhausted: OnExhausted,
      inputs: Seq[DataFrame] = Nil)(
      step: DataFrame => DataFrame)(settled: DataFrame => Boolean): DataFrame = {
    require(maxRounds >= 1, s"the round budget must be >= 1, got $maxRounds")
    inputs.foreach(_.persist())
    try {
      var state = start
      var round = 0
      var done = false
      while (!done && round < maxRounds) {
        state = pin(step(state))
        done = settled(state)
        round += 1
      }
      onExhausted match {
        case Fail(message) if !done => throw new IllegalStateException(message)
        case _ => state
      }
    } finally inputs.foreach(_.unpersist(false))
  }

  /** Exactly `n` rounds of `step(state, round)` from `start`, `round`
    * counting from 0. `step` must be pure: a round may be built twice. */
  def rounds(start: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(n >= 1, s"the round budget must be >= 1, got $n")
    def nodes(df: DataFrame) = df.queryExecution.analyzed.collect { case p => p }.size
    var next = step(pin(start), 0)
    val bound = MaxLineage * nodes(next)
    for (round <- 1 until n) {
      val built = step(next, round)
      next = if (nodes(built) <= bound) built else step(pin(next), round)
    }
    next
  }
}
