package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.Bridge

/** The one iterative-rounds kernel behind graft's DataFrame loops
  * (components, label propagation, the beam walk, k-core, redirect
  * doubling, PageRank). A round is a lazy step from the last state that
  * ends in one eager [[checkpoint]]: it cuts the lineage (a state read
  * twice would re-evaluate every earlier round per read) and observes the
  * loop's no-change witness on the same action. Each round's jobs run
  * under the job description `<loop> round <r>` (setup is round 0).
  */
object Rounds {

  /** What [[fixpoint]] ran: the last state, the rounds run, and whether
    * the last round's witness was 0.
    */
  final case class Fixed(frame: DataFrame, rounds: Int, converged: Boolean)

  /** Eager localCheckpoint of `df` plus its row count (`rows`) and the
    * Long-valued `metrics`, observed on the checkpoint's own action. The
    * checkpoint's size estimate is re-based on the observed row count: a
    * checkpoint otherwise keeps its origin plan's estimate, joins multiply
    * estimates, and over the rounds the estimate squares. A re-based round
    * frame can be small enough to auto-broadcast, so round joins name
    * their strategy (`SHUFFLE_HASH`).
    */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Long]) = {
    val obs = Observation()
    val ck = df.observe(obs, count(lit(1)).as("rows"), metrics: _*).localCheckpoint()
    val m = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    (Bridge.withRowCount(ck, m("rows")), m)
  }

  /** `body` under the job description `<loop> round <r>`; the previous
    * description (a job group's, say) is restored afterwards.
    */
  def round[T](loop: String, r: Int)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, s"$loop round $r")
    try body
    finally sc.setLocalProperty(key, prev)
  }

  /** Runs `step` from `init` until a round's witness is 0 or `maxRounds`
    * rounds have run. `step` maps the last state to the next one (ending
    * in a [[checkpoint]]) and its witness: the rows that round changed,
    * by the loop's own measure. `changed` is `init`'s witness when its
    * setup observed one (0 runs no round); −1 means unknown.
    *
    * Early exit is exact. A 0 witness means the round left the state's
    * rows unchanged, and `step` is a deterministic function of those
    * rows, so every later round would return them again: the state there
    * is the state after `maxRounds` rounds. A loop without a witness
    * reports a change every round and runs all `maxRounds`.
    */
  def fixpoint(loop: String, init: DataFrame, maxRounds: Int, changed: Long = -1L)(
      step: DataFrame => (DataFrame, Long)
  ): Fixed = {
    var (state, witness) = (init, changed)
    var r = 0
    while (witness != 0 && r < maxRounds) {
      r += 1
      val (next, c) = round(loop, r)(step(state))
      state = next
      witness = c
    }
    Fixed(state, r, witness == 0)
  }
}
