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

  /** A rollup group's row count is bounded by its slot capacity
    * (lowerStep/higherStep) — so aggregation skew is structural, not
    * data-dependent, and the two-stage salted path pays off exactly when
    * capacity is large (e.g. a 1s→1d consolidation: 86400 rows per
    * (metric, window) key on ONE reducer). Above this threshold
    * `propagate` delegates to `propagateSalted` automatically.
    */
  val SaltSlotsThreshold = 4096

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
    */
  def propagateCounted(higher: DataFrame,
                       higherStep: Int,
                       lowerStep: Int,
                       method: AggregationMethod,
                       xff: Float): DataFrame = {
    require(lowerStep % higherStep == 0, s"$higherStep does not divide $lowerStep")
    val slots = lowerStep / higherStep
    if (slots >= SaltSlotsThreshold)
      return propagateSalted(higher, higherStep, lowerStep, method, xff)
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

  /** Skew-safe variant of propagate: two-stage aggregation with a salt on
    * the higher-resolution interval. A hot metric whose window has
    * pathologically many points first combines within
    * (metric, window, salt) partitions — spreading one hot key over
    * `salts` reducers — then the small per-salt partials combine exactly.
    * Every kernel decomposes: sums/counts directly; last/absmax/absmin by
    * carrying the winning (value, interval) pair and re-comparing with
    * the same ordering in the final stage. Bit-equal to `propagate` for
    * sum/min/max/last/absmax/absmin; avg re-associates the sum (same
    * value up to FP reassociation).
    */
  def propagateSalted(higher: DataFrame,
                      higherStep: Int,
                      lowerStep: Int,
                      method: AggregationMethod,
                      xff: Float,
                      salts: Int = 16): DataFrame = {
    require(lowerStep % higherStep == 0, s"$higherStep does not divide $lowerStep")
    val slots = lowerStep / higherStep
    import AggregationMethod._
    val (kn, vs) = countCols(higher)
    val keyed = higher.groupBy(
      col("metric"),
      Grid.align(col("interval"), lowerStep).as("interval"),
      pmod(hash(col("interval")), lit(salts)).as("salt"))
    // contribution counts decompose as plain sums in both stages; the
    // non-null tallies ride along so the final stage can null out any
    // window with an unknown child (sum() alone would skip the nulls)
    val countAggs = Seq(
      count(kn).as("kc"), sum(kn).as("k"),
      count(vs).as("vc"), sum(vs).as("vssum"))
    val countFin = Seq(
      sum(col("kc")).as("kcnt"), sum(col("k")).as("ksum"),
      sum(col("vc")).as("vcnt"), sum(col("vssum")).as("vssum2"))

    val finished = method match {
      case Average | Sum | AvgZero =>
        val partial = keyed.agg(sum(col("value")).as("s"),
          (count(col("value")).as("c") +: countAggs): _*)
        val fin = partial.groupBy("metric", "interval")
          .agg(sum(col("s")).as("s"), (sum(col("c")).as("rows") +: countFin): _*)
        val v = method match {
          case Average => col("s") / col("rows")
          case Sum     => col("s")
          case _       => col("s") / lit(slots)
        }
        fin.select(col("metric"), col("interval"), v.as("value"),
          col("rows"), col("kcnt"), col("ksum"), col("vcnt"), col("vssum2"))
      case Max | Min =>
        val agg0 = if (method == Max) max(col("value")) else min(col("value"))
        val partial = keyed.agg(agg0.as("v"),
          (count(col("value")).as("c") +: countAggs): _*)
        val agg1 = if (method == Max) max(col("v")) else min(col("v"))
        partial.groupBy("metric", "interval")
          .agg(agg1.as("value"), (sum(col("c")).as("rows") +: countFin): _*)
      case Last =>
        val partial = keyed.agg(
          max_by(col("value"), col("interval")).as("v"),
          (Seq(max(col("interval")).as("mi"), count(col("value")).as("c")) ++ countAggs): _*)
        partial.groupBy("metric", "interval")
          .agg(max_by(col("v"), col("mi")).as("value"),
            (sum(col("c")).as("rows") +: countFin): _*)
      case AbsMax | AbsMin =>
        // carry the winner's (value, interval) so the final stage applies
        // the SAME tie-break ordering as the single-stage kernel
        val ord = (v: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
          if (method == AbsMax) struct(abs(v), -i) else struct(abs(v), i)
        val pick = (vi: org.apache.spark.sql.Column, o: org.apache.spark.sql.Column) =>
          if (method == AbsMax) max_by(vi, o) else min_by(vi, o)
        val partial = keyed.agg(
          pick(struct(col("value").as("v"), col("interval").as("i")),
            ord(col("value"), col("interval"))).as("vi"),
          (count(col("value")).as("c") +: countAggs): _*)
        partial.groupBy("metric", "interval")
          .agg(
            pick(col("vi"), ord(col("vi.v"), col("vi.i"))).as("vi"),
            (sum(col("c")).as("rows") +: countFin): _*)
          .select(col("metric"), col("interval"), col("vi.v").as("value"),
            col("rows"), col("kcnt"), col("ksum"), col("vcnt"), col("vssum2"))
    }
    finished
      .where(Kernels.xffGate(col("rows"), lit(slots), xff))
      .select(col("metric"), col("interval"), col("value"),
        when(col("kcnt") === col("rows"), col("ksum")).as("known"),
        when(col("vcnt") === col("rows"), col("vssum2")).as("vsum"))
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
