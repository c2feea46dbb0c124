package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Central eager-checkpoint ("pin") helper.
  *
  * Operators truncate iterative/multi-consumer lineage with eager
  * `localCheckpoint` (the repo's measured iterative-state law — PLANS.md
  * round 11). That truncation has one cost: plan-quality sweeps
  * (PlanGuardSpec) cannot see OPERATORS UPSTREAM of a checkpoint — a
  * single-reducer window or an accidental cartesian hidden behind one is
  * invisible to `queryExecution` on the truncated frame.
  *
  * Two inspection modes close that blind spot, both thread-local
  * (`DynamicVariable`, NOT a global: ScalaTest suites share one JVM and
  * run concurrently, and a global switch would silently re-mode pins in
  * whichever suite happens to overlap the sweep):
  *
  *  - [[audited]] — the sweep mode. `.pin` still checkpoints (loops keep
  *    their flat-plan and determinism guarantees), but each call FIRST
  *    hands the pre-truncation frame to a sink, so a sweep sees every
  *    plan SEGMENT between consecutive checkpoints exactly where it was
  *    built. This is the only mode that scales to the iterative
  *    operators: rebuilding them UN-pinned re-creates the measured
  *    anti-patterns the pins exist to prevent (plans doubling per round;
  *    per-round driver actions recomputing the whole chain) and breaks
  *    self-joins that rely on the checkpoint's fresh attribute ids.
  *  - [[withoutPins]] — `.pin` is the identity; a rebuilt NON-iterative
  *    query carries its whole logical plan in one piece. Values computed
  *    here are for plan inspection only (pinning is what holds
  *    nondeterministic physical choices stable, e.g. range-boundary
  *    sampling under GlobalOrder's collected offset table).
  *
  * Streaming sinks (`graft.streaming`) deliberately keep raw
  * `localCheckpoint`: there the checkpoint is a RUNTIME-correctness
  * device (a foreachBatch frame is only valid inside its micro-batch),
  * never a plan-sweep subject.
  */
object Pin {
  private sealed trait Mode
  private case object Normal extends Mode
  private case object Off extends Mode
  private final case class Audit(sink: DataFrame => Unit) extends Mode

  private val mode = new DynamicVariable[Mode](Normal)

  /** True while the current thread is inside [[withoutPins]]. */
  def disabled: Boolean = mode.value == Off

  /** Run `body` with `.pin` as the identity on THIS thread. */
  def withoutPins[T](body: => T): T = mode.withValue(Off)(body)

  /** Run `body` with every `.pin` on THIS thread reporting its
    * pre-truncation frame to `sink` before checkpointing as usual.
    */
  def audited[T](sink: DataFrame => Unit)(body: => T): T =
    mode.withValue(Audit(sink))(body)

  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    /** Eager `localCheckpoint`, subject to the thread's inspection mode. */
    def pin: DataFrame = mode.value match {
      case Off => df
      case Audit(sink) => sink(df); df.localCheckpoint()
      case Normal => df.localCheckpoint()
    }

    /** Eager [[pin]] plus the frame's row count, counted by an
      * `Observation` in the checkpoint's own job instead of a second
      * action. Under [[withoutPins]] nothing runs the frame, so the count
      * is a plain `count()` there (the observation would never fire).
      */
    def pinCounted(): (DataFrame, Long) =
      if (disabled) (df, df.count())
      else {
        val obs = Observation()
        val pinned = df.observe(obs, count(lit(1)).as("n")).pin
        (pinned, obs.get("n").asInstanceOf[Long])
      }
  }
}
