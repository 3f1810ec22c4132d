package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** The driver-side round loop every checkpointed iterative operator
  * runs through. In the MPC model (Approximation Algorithms for Large
  * Scale Data Analysis, PODS 2021) a round is the unit of cost, so the
  * rule for what one round costs lives here, once:
  *
  *  - the caller's `step` builds the next state lazily from the last
  *    one (and the last round's stats row, `None` before round 1);
  *  - ONE action per round reads every partition of the state: its
  *    checkpoint job. The state carries an observed global aggregate,
  *    `count(*)` followed by the caller's `stats`, so that one job both
  *    materializes the checkpoint and yields the figures the stop test
  *    reads, and the next round's consumers, however many, read blocks
  *    that are already built. Nothing here calls `isEmpty` or `head`
  *    over a `limit` (either computes only some partitions, and the
  *    rest re-run the whole round inside the next one), and no second
  *    action follows the checkpoint: a lazy checkpoint plus a separate
  *    aggregate measured two jobs per round (the aggregate's
  *    single-partition exchange is a stage of its own);
  *  - an empty state (count 0) ends the loop at once, so a NULL
  *    aggregate over no rows never reaches the caller's stop test;
  *  - at most `cap` rounds run. What the cap means is the caller's to
  *    say: for a fixed-round definition it is the definition, for a
  *    fixed-point iteration it is a safety net ([[Loop.Result.settled]]
  *    tells the two apart).
  */
object Loop {

  /** Decides, from the previous round's stats row and this round's,
    * that the iteration has settled.
    */
  type Stop = (Option[Row], Row) => Boolean

  /** Never settles early: the round count is the definition. */
  val Fixed: Stop = (_, _) => false

  /** Settles when stats column `i` (0 is the row count) reads 0 — e.g.
    * a count of the rows this round changed.
    */
  def zero(i: Int): Stop = (_, row) => row.getLong(i) == 0L

  /** `state` is the last round's state (`init` if no round ran);
    * `rounds` counts the rounds run; `stats` holds each round's row;
    * `settled` is false when the cap cut the loop.
    */
  final case class Result(state: DataFrame, rounds: Int, stats: Vector[Row],
      settled: Boolean)

  def apply(init: DataFrame, cap: Int, stop: Stop, stats: Column*)(
      step: (DataFrame, Option[Row]) => DataFrame): Result = {
    var state = init
    var last = Option.empty[Row]
    val rows = Vector.newBuilder[Row]
    var rounds = 0
    var settled = false
    while (!settled && rounds < cap) {
      val observed = step(state, last).observe("loop round",
        count(lit(1)).as("rows"), stats.zipWithIndex.map {
          case (c, i) => c.as(s"stat$i") }: _*)
      state = observed.localCheckpoint()
      val row = observed.queryExecution.observedMetrics("loop round")
      rows += row
      rounds += 1
      settled = row.getLong(0) == 0L || stop(last, row)
      last = Some(row)
    }
    Result(state, rounds, rows.result(), settled)
  }
}
