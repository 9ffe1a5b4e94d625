package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one loop policy for ITERATIVE dataflow (graph rounds, CC, BPE).
  *
  * Iterative dataflow must materialize per round: a lazy unrolled loop
  * whose round references the previous state twice re-derives the base
  * 2^rounds times (qd6 measured 419 s vs 27 s). Every loop here therefore
  * truncates lineage with an eager `localCheckpoint(true)` per round; the
  * superseded round's blocks are reclaimed by the ContextCleaner once the
  * checkpointed frame is garbage (`unpersist()` would do nothing — it only
  * uncaches `persist()`ed plans).
  *
  * Three pieces:
  *   - [[sized]]: materialize and count the loop-reused table once, then
  *     run the rounds with shuffle parallelism derived from that measured
  *     row count and AQE off. At small state the per-round cost is pure
  *     scheduling latency: under AQE every checkpoint becomes one job PER
  *     QUERY STAGE (qg12's 3-stage rounds ran 325 jobs for a 36-node graph,
  *     ~34 ms/job) and the session's corpus-sized partition count fans every
  *     tiny label shuffle into 32 reducers. The plans inside a round are
  *     fixed and already sized, so adaptive re-planning only adds a job per
  *     stage. `RowsPerPartition` = 64k rows ≈ a few MB of long pairs per
  *     task, so at corpus scale the same formula yields hundreds of
  *     partitions — nothing here is a local-mode constant.
  *   - [[iterate]]: a fixed number of applications of a lazy step,
  *     materialized every `chain` steps.
  *   - [[converge]]: rounds until the caller's change test says the state
  *     is fixed, THROWING past the budget — non-convergence is an error,
  *     never a silently partial result.
  *
  * Precondition of [[sized]]: the session runs one query at a time.
  * `spark.sql.shuffle.partitions` and `spark.sql.adaptive.enabled` are
  * SESSION-wide settings, so a query running concurrently on the same
  * session would plan under the loop's width for the scope's duration. No
  * caller shares a session between concurrent queries today.
  */
private[ops] object Fixpoint {

  private val RowsPerPartition = 65536L
  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val Adaptive = "spark.sql.adaptive.enabled"

  /** The state-derived partition count [[sized]] runs its rounds at, for
    * laying out a loop-reused table explicitly (e.g. coalescing an
    * adjacency list whose feeder pinned a wide repartition — every round
    * would otherwise inherit the wide layout as per-stage tasks). Capped at
    * the session's shuffle parallelism.
    */
  def partitionsFor(spark: SparkSession, stateRows: Long): Int = {
    val cap = math.max(1, spark.conf.get(ShufflePartitions).toInt)
    math.min(cap.toLong, stateRows / RowsPerPartition + 1).toInt
  }

  /** Checkpoint `state` (the table every round re-reads — an edge list),
    * count it, and run `body(table, rows)` under shuffle parallelism
    * derived from `rows` with AQE off, restoring both settings afterwards
    * even when `body` throws. Safe for any result-deterministic plan (hash
    * joins/aggregates over exact types — partitioning never changes their
    * output), which every caller is. A lazy result `body` returns plans
    * later, under the session's normal configuration.
    */
  def sized[T](state: DataFrame)(body: (DataFrame, Long) => T): T = {
    val table = state.localCheckpoint(true)
    val rows = table.count()
    val conf = table.sparkSession.conf
    val oldP = conf.get(ShufflePartitions)
    val oldA = conf.get(Adaptive)
    conf.set(ShufflePartitions, partitionsFor(table.sparkSession, rows).toLong)
    conf.set(Adaptive, false)
    try body(table, rows)
    finally {
      conf.set(ShufflePartitions, oldP)
      conf.set(Adaptive, oldA)
    }
  }

  /** `rounds` applications of the lazy `step` to `init`, checkpointed every
    * `chain` steps (and `init` once up front). A state referenced exactly
    * ONCE per step may chain two steps per checkpoint — the plan only
    * deepens linearly — which halves the per-round job overhead; a step
    * that reads its input twice must use chain = 1. With chain = 1, `step`
    * sees every materialized state in order.
    */
  def iterate(init: DataFrame, rounds: Int, chain: Int = 1)(
      step: DataFrame => DataFrame): DataFrame = {
    var state = init.localCheckpoint(true)
    var done = 0
    while (done < rounds) {
      val take = math.min(chain, rounds - done)
      state = (1 to take).foldLeft(state)((s, _) => step(s)).localCheckpoint(true)
      done += take
    }
    state
  }

  /** Apply `step` until it reports no change, returning the final state and
    * the number of rounds taken (the round that detects the fixpoint
    * counts). `step` materializes its own result and returns it with the
    * caller's change test (an `isEmpty`, a filtered count, count equality —
    * one action per round). Throws IllegalStateException naming `name`
    * rather than start round `maxRounds + 1`.
    */
  def converge[S](name: String, maxRounds: Int, init: S)(
      step: S => (S, Boolean)): (S, Int) = {
    var state = init
    var rounds = 0
    var changed = true
    while (changed) {
      if (rounds >= maxRounds) throw new IllegalStateException(
        s"$name did not converge to a fixpoint in $maxRounds rounds")
      val (next, ch) = step(state)
      state = next
      changed = ch
      rounds += 1
    }
    (state, rounds)
  }
}
