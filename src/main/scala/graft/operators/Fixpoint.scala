package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one fixpoint loop of the iterative operators (dupClusters,
  * kCore). `step` maps a round's frame to the next frame plus an
  * aggregate counting the rows that round changed. The loop attaches
  * the count with `Dataset.observe`, so the [[Checkpoints.truncate]]
  * job computes it (no probe job; local and reliable checkpoints both
  * fill the observation); releases each superseded round; fires
  * `onRound(round, wall ms)`; and throws `IllegalStateException` after
  * `maxIter` rounds without a fixpoint, releasing its last round on
  * that and on every other throw. The seed stays the caller's; the
  * converged frame is returned, still pinned.
  *
  * The probe must be 0 exactly at the fixpoint, and only its zeroness
  * is used: observed metrics are accumulators, which a retried task
  * (or a reliable checkpoint's second pass) can count twice.
  *
  * Spark 4.1 fills an `Observation` after the action returns, from a
  * listener on the listener bus's shared queue, which drops events when
  * full: a lost probe fails the operator after [[ProbeWait]]. */
object Fixpoint {

  /** `TimeoutException` past it; `Observation.get` would wait forever. */
  private val ProbeWait = 2.minutes

  def run(seed: DataFrame, name: String, maxIter: Int,
      onRound: (Int, Long) => Unit)(
      step: DataFrame => (DataFrame, Column)): DataFrame = {
    var state = seed
    var pinned: Option[DataFrame] = None
    var changed = -1L
    var round = 0
    try {
      while (changed != 0L) {
        if (round == maxIter) throw new IllegalStateException(
          s"$name: not converged after $maxIter rounds; raise maxIter")
        val t0 = System.nanoTime()
        round += 1
        val (frame, probe) = step(state)
        val obs = Observation(s"$name-round-$round")
        state = Checkpoints.truncate(frame.observe(obs, probe.as("changed")))
        pinned.foreach(Checkpoints.release)
        pinned = Some(state)
        changed = Await.result(obs.future, ProbeWait).getAs[Number](0).longValue
        onRound(round, (System.nanoTime() - t0) / 1000000L)
      }
      state
    } catch {
      case e: Throwable => pinned.foreach(Checkpoints.release); throw e
    }
  }
}
