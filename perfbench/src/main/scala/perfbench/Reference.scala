package perfbench

import scala.collection.mutable

import graft.model.RetentionPolicy

/** Plain-Scala model of what the store must hold after a sequence of
  * `updateMany` batches, for the metrics it tracks. Shares no code with the
  * engine:
  *   - a point routes to the finest level whose retention covers its age at
  *     the batch's `now`, aligned down to that level's step; older than
  *     every level, it is dropped;
  *   - within a batch the point with the largest timestamp wins a slot, and
  *     on equal timestamps the first listed (smallest seq) wins;
  *   - a later batch overwrites a slot an earlier batch wrote;
  *   - level i+1 is the average of level i's values in each window, kept
  *     only when known rows / slots per window >= xff.
  * Levels are derived from the final level-0 contents; points routed
  * straight to a coarse level are kept as written on that level.
  */
final class Reference(policy: RetentionPolicy, tracked: String => Boolean) {
  private val levels = policy.levels
  // (metric, level) -> interval -> value, as written by routing
  private val written = mutable.HashMap.empty[(String, Int), mutable.HashMap[Long, Double]]

  def add(batch: Seq[Point], now: Long): Unit = {
    val best = mutable.HashMap.empty[(String, Int, Long), Point]
    batch.foreach { p =>
      if (tracked(p.metric)) {
        val age = now - p.ts
        val lvl = levels.indexWhere(a => age <= a.retention)
        if (lvl >= 0) {
          val step = levels(lvl).secondsPerPoint.toLong
          val key = (p.metric, lvl, Math.floorDiv(p.ts, step) * step)
          best.get(key) match {
            case Some(q) if q.ts > p.ts || (q.ts == p.ts && q.seq < p.seq) => ()
            case _ => best(key) = p
          }
        }
      }
    }
    best.foreach { case ((m, l, i), p) =>
      written.getOrElseUpdate((m, l), mutable.HashMap.empty)(i) = p.value
    }
  }

  /** Per level, interval -> value for one metric. */
  def series(metric: String): IndexedSeq[Map[Long, Double]] = {
    val out = mutable.ArrayBuffer(written.get((metric, 0)).map(_.toMap).getOrElse(Map.empty[Long, Double]))
    for (i <- 1 until levels.size) {
      val step = levels(i).secondsPerPoint.toLong
      val slots = step / levels(i - 1).secondsPerPoint
      val derived = out(i - 1).groupBy { case (t, _) => Math.floorDiv(t, step) * step }
        .collect { case (w, rows) if rows.size.toDouble / slots >= policy.xff.toDouble =>
          w -> rows.values.sum / rows.size }
      out += derived ++ written.get((metric, i)).map(_.toMap).getOrElse(Map.empty)
    }
    out.toIndexedSeq
  }
}

object Reference {
  /** Values agree when equal to 1e-9 relative: Spark and this model sum a
    * window's values in different orders.
    */
  def same(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
}
