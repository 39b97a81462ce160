package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{InvalidTimeInterval, RetentionPolicy}

/** The read path: whisper `fetch`/`__archive_fetch`
  * (/root/reference/whisper.py:892-1034).
  *
  * Contract: a DENSE vector — one row per grid slot in
  * [fromInterval, untilInterval), value null where no point is stored.
  * Both endpoints are aligned and then advanced one step
  * (whisper.py:970-972); a zero-length range yields exactly one slot
  * (whisper.py:974-976).
  *
  * Two spellings of that contract share [[planFetch]] and [[gridBounds]].
  * `MetricStore.fetch` scans only the metric's (pb, tb) directories and
  * fills the vector on the driver, the way whisper returns a driver-side
  * list (whisper.py:1032-1034). [[fetchGrid]] is the distributed dense
  * grid, for `MetricStore.fetchFrame` and the query oracles.
  */
object Fetch {

  final case class TimeInfo(fromInterval: Long, untilInterval: Long, step: Long)

  /** Range normalization + archive selection (whisper.py:913-957).
    * Returns None when the request is entirely in the future or entirely
    * beyond retention (whisper.py:928-931).
    */
  def planFetch(policy: RetentionPolicy,
                fromTime: Long,
                untilTime: Long,
                now: Long,
                precisionOverride: Option[Int] = None): Option[(Int, Long, Long)] = {
    if (fromTime > untilTime)
      throw new InvalidTimeInterval(
        s"Invalid time interval: from time '$fromTime' is after until time '$untilTime'")
    val oldest = now - policy.maxRetention
    if (fromTime > now) return None
    if (untilTime < oldest) return None
    val clampedFrom = if (fromTime < oldest) oldest else fromTime
    val clampedUntil = if (untilTime > now) now else untilTime
    val level = precisionOverride match {
      case Some(p) => policy.levelForPrecision(p)
      case None    => policy.levelForQueryAge(now - clampedFrom)
    }
    Some((level, clampedFrom, clampedUntil))
  }

  /** Grid endpoints for one archive fetch (whisper.py:970-976). */
  def gridBounds(fromTime: Long, untilTime: Long, step: Long): (Long, Long) = {
    val fromInterval = Grid.alignDown(fromTime, step) + step
    val untilInterval0 = Grid.alignDown(untilTime, step) + step
    val untilInterval =
      if (untilInterval0 == fromInterval) fromInterval + step else untilInterval0
    (fromInterval, untilInterval)
  }

  /** Dense-grid materialization over a points frame already filtered to one
    * resolution level. No broadcast hint: the grid is the LEFT (row-
    * preserving) side of the outer join, and Spark can only build the
    * right side of a left_outer — a left-side hint is silently ignored
    * (HintErrorLogger). Both sides are bounded by the requested range, so
    * AQE broadcasts the points side when it is small and shuffles
    * otherwise; filter pushdown does the ring-offset math's job.
    *
    * @param points (metric, interval, value) at `step` resolution
    * @return (metric, interval, value-or-null), dense per metric over the grid
    */
  def fetchGrid(spark: SparkSession,
                points: DataFrame,
                metrics: Seq[String],
                fromTime: Long,
                untilTime: Long,
                step: Long): DataFrame = {
    val (fromInterval, untilInterval) = gridBounds(fromTime, untilTime, step)
    val grid = Grid
      .gridFrame(spark, fromInterval, untilInterval, step)
      .crossJoin(
        spark
          .createDataset(metrics)(org.apache.spark.sql.Encoders.STRING)
          .toDF("metric"))
    val data = points
      .where(col("metric").isin(metrics: _*) &&
        col("interval") >= fromInterval && col("interval") < untilInterval)
    grid.join(data, Seq("metric", "interval"), "left_outer")
      .select(col("metric"), col("interval"), col("value"))
  }
}
