package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{AggregationMethod, RetentionPolicy}

/** The rollup/propagation step: whisper `__propagate`
  * (/root/reference/whisper.py:578-659) as a tumbling-window aggregation
  * with an xff HAVING clause.
  *
  * level-i is ALWAYS derivable as `propagate(level-(i-1))` — whisper keeps
  * the rings materialized and incrementally maintained; we do the same at
  * the storage layer (MetricStore) but the math lives here, once.
  */
object Rollup {

  /** One full rollup step: higher-resolution points → lower-resolution
    * consolidated points.
    *
    * @param higher   (metric, interval, value) at `higherStep` resolution
    * @return         (metric, interval, value) at `lowerStep` resolution;
    *                 windows failing the xff gate produce no row
    */
  def propagate(higher: DataFrame,
                higherStep: Int,
                lowerStep: Int,
                method: AggregationMethod,
                xff: Float): DataFrame =
    propagateCounted(higher, higherStep, lowerStep, method, xff)
      .select(col("metric"), col("interval"), col("value"))

  /** Contribution-count inputs: `known` = number of level-0 points a row
    * consolidates, `vsum` = their sum. Raw/level-0 inputs carry neither
    * column and count as (1, value); absent-but-expected counts (rows
    * from sources that cannot supply them) are null and stay null through
    * any window they touch — "unknown", never silently fabricated.
    */
  private def countCols(df: DataFrame): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
    // a null-valued level-0 row contributes NOTHING to `known` — stored
    // `known` must equal count(value) (the non-null count) because the
    // substitution rewrites equate the two; a bare lit(1L) here would
    // count null rows into kcnt, fail the kcnt===rows check below, and
    // null the whole window's counts
    if (df.columns.contains("known")) col("known") else when(col("value").isNotNull, lit(1L)),
    if (df.columns.contains("vsum")) col("vsum") else col("value"))

  /** propagate, additionally maintaining per-window contribution counts:
    * output (metric, interval, value, known, vsum) where `value` is the
    * whisper kernel over the CHILD rows (avg-of-avgs at depth ≥ 2,
    * whisper.py:858-875 semantics) while known/vsum accumulate the
    * level-0 population — sum of child knowns/vsums. The xff gate still
    * counts child ROWS (whisper's knownPercent is the fraction of known
    * next-higher-archive slots, whisper.py:634-641), NOT `known`.
    *
    * known/vsum make the true level-0 average (vsum/known) recoverable at
    * ANY depth — what RollupSubstitution needs to substitute deep levels
    * for Average queries exactly.
    *
    * Every kernel and count here is a partial aggregate, so Spark combines
    * each window map-side: even a 1s→1d window (86400 rows per key)
    * reaches its reducer as one partial row per input partition, and no
    * salted two-stage plan is needed (SCALE.md, rollup kernels row).
    */
  def propagateCounted(higher: DataFrame,
                       higherStep: Int,
                       lowerStep: Int,
                       method: AggregationMethod,
                       xff: Float): DataFrame = {
    require(lowerStep % higherStep == 0, s"$higherStep does not divide $lowerStep")
    val slots = lowerStep / higherStep
    val (kn, vs) = countCols(higher)
    higher
      .groupBy(col("metric"), Grid.align(col("interval"), lowerStep).as("interval"))
      .agg(
        Kernels.kernel(method, col("value"), col("interval"), lit(slots)).as("value"),
        count(col("value")).as("rows"),
        // sum() skips nulls — an unknown child must make the WINDOW
        // unknown, not silently shrink it, so null out any window where
        // some child's counts are missing
        count(kn).as("kcnt"), sum(kn).as("ksum"),
        count(vs).as("vcnt"), sum(vs).as("vssum"))
      .where(Kernels.xffGate(col("rows"), lit(slots), xff))
      .select(col("metric"), col("interval"), col("value"),
        when(col("kcnt") === col("rows"), col("ksum")).as("known"),
        when(col("vcnt") === col("rows"), col("vssum")).as("vsum"))
  }

  /** Incremental variant: recompute ONLY the lower windows touched by a
    * change set — whisper's `uniqueLowerIntervals` incremental maintenance
    * (whisper.py:866-869). `changedIntervals` is a small (metric,
    * lower-interval) frame; broadcast it into a semi join so the big side
    * never reshuffles beyond the final groupBy.
    */
  def propagateTouched(higher: DataFrame,
                       changed: DataFrame,
                       higherStep: Int,
                       lowerStep: Int,
                       method: AggregationMethod,
                       xff: Float): DataFrame =
    propagateTouchedCounted(higher, changed, higherStep, lowerStep, method, xff)
      .select(col("metric"), col("interval"), col("value"))

  /** [[propagateTouched]] with contribution counts ([[propagateCounted]]'s
    * output shape).
    */
  def propagateTouchedCounted(higher: DataFrame,
                              changed: DataFrame,
                              higherStep: Int,
                              lowerStep: Int,
                              method: AggregationMethod,
                              xff: Float): DataFrame = {
    val touched = changed
      .select(col("metric"), Grid.align(col("interval"), lowerStep).as("interval"))
      .distinct()
    val scoped = higher
      .withColumn("lower_interval", Grid.align(col("interval"), lowerStep))
      .join(
        broadcast(touched.withColumnRenamed("interval", "lower_interval")),
        Seq("metric", "lower_interval"),
        "left_semi")
      .drop("lower_interval")
    propagateCounted(scoped, higherStep, lowerStep, method, xff)
  }

  /** Materialize every level from level-0 points: the resize/backfill
    * path. Each level is computed from the previous (not from raw), exactly
    * like the archive cascade — counted, so levels ≥ 1 carry known/vsum.
    */
  def cascade(level0: DataFrame, policy: RetentionPolicy): Seq[DataFrame] = {
    val steps = policy.levels.map(_.secondsPerPoint)
    steps.zipWithIndex.drop(1).scanLeft(level0) {
      case (prev, (step, i)) =>
        propagateCounted(prev, steps(i - 1), step, policy.aggregation, policy.xff)
    }
  }
}
