package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-grid arithmetic shared by every operator: whisper aligns all
  * timestamps down to the archive grid, `interval = t - (t % step)`
  * (/root/reference/whisper.py:707,798).
  *
  * Canonical point schema throughout the engine:
  *   (metric: string, interval: long epoch-seconds grid-aligned, value: double)
  */
object Grid {

  /** Align an epoch-seconds column down to a step grid. Timestamps are
    * epoch-nonnegative so `%` == floor-mod here.
    */
  def align(epochSec: Column, step: Int): Column =
    epochSec - (epochSec % lit(step.toLong))

  def align(epochSec: Column, step: Column): Column =
    epochSec - (epochSec % step)

  /** Scalar version for driver-side range math. Python's `%` is a
    * floor-mod, so the reference's `int(t - (t % step))` floors for
    * negative t too (whisper.py:707); Scala's `%` truncates toward
    * zero, so use floorMod to keep pre-epoch endpoints (small-clock
    * tests where now < retention) on the same grid as the reference.
    */
  def alignDown(t: Long, step: Long): Long = t - Math.floorMod(t, step)

  /** Dense grid skeleton for a fetch: one row per grid slot in
    * [fromInterval, untilInterval) at `step` — whisper's fetch contract
    * returns one slot per step with None for gaps
    * (whisper.py:962-1034). Built with `sequence` + explode: a single
    * narrow generator, no shuffle.
    */
  def gridFrame(spark: org.apache.spark.sql.SparkSession,
                fromInterval: Long,
                untilInterval: Long,
                step: Long): DataFrame = {
    spark
      .range(1)
      .select(
        explode(
          sequence(lit(fromInterval), lit(untilInterval - step), lit(step))
        ).as("interval"))
  }
}
