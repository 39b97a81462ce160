package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._
import graft.store.MetricStore

/** The idiomatic `window(ts, "S seconds")` grouping shape substitutes to
  * the precomputed rollup level.
  */
class WindowShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Now = 1706659200L

  private def mkStore(): (MetricStore, Long) = {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-winshape").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    (store, w0)
  }

  private def hasAggregate(q: org.apache.spark.sql.DataFrame): Boolean =
    q.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty

  private def readsLevel0(q: org.apache.spark.sql.DataFrame): Boolean =
    q.inputFiles.exists(_.contains("/level_0/"))

  /** Substituted with `store`'s rule registered: no level-0 leaf is left
    * in the optimized plan, and the rows equal the same query planned
    * with no rule registered (the level-0 recompute).
    */
  private def assertSubstitutedExact(store: MetricStore)(
      query: => org.apache.spark.sql.DataFrame): Unit = {
    RollupSubstitution.register(spark, store)
    val got = try {
      val q = query
      assert(q.inputFiles.nonEmpty && !readsLevel0(q),
        s"substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      q.collect().toSet
    } finally spark.experimental.extraOptimizations = Nil
    val recompute = query
    assert(readsLevel0(recompute))
    val want = recompute.collect().toSet
    assert(got.nonEmpty && got == want, s"substituted $got != recomputed $want")
  }

  test("window() tumbling grouping is rewritten to scan the rollup level") {
    val (store, w0) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"))
      assert(!hasAggregate(q),
        s"window() substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getStruct(1).getTimestamp(0).toInstant.getEpochSecond,
          r.getStruct(1).getTimestamp(1).toInstant.getEpochSecond,
          r.getAs[Double]("value"))).toSet
      assert(got == Set((w0, w0 + 300, 12.0), (w0 + 300L, w0 + 600, 17.0)),
        s"wrong windows: $got")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("gated window() shape substitutes on an xff>0 store; values match the gate") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-wingate").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300
    // 5 points in window w0 (passes 0.5), 1 point in w0+300 (1/5 fails)
    val pts = ((0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i)) :+
      ("m", w0 + 300L, 99.0)).zipWithIndex
      .map { case ((m, t, v), i) => (m, t, v, i.toLong) }
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5f.toDouble))
        .select("metric", "window", "value")
      assert(!hasAggregate(q),
        s"gated window() substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getStruct(1).getTimestamp(0).toInstant.getEpochSecond,
          r.getAs[Double]("value"))).toSet
      assert(got == Set((w0, 12.0)), s"wrong gated windows: $got")

      // a DIFFERENT xff literal in the gate must NOT substitute
      val wrong = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.2))
        .select("metric", "window", "value")
      assert(hasAggregate(wrong),
        s"mismatched gate was substituted:\n${wrong.queryExecution.optimizedPlan}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("gated window() shape KEEPING the count output substitutes from stored counts") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-wingatek").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300
    // 5 points in window w0 (passes 0.5), 1 point in w0+300 (1/5 fails)
    val pts = ((0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i)) :+
      ("m", w0 + 300L, 99.0)).zipWithIndex
      .map { case ((m, t, v), i) => (m, t, v, i.toLong) }
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5f.toDouble))
      assert(!hasAggregate(q),
        s"known-kept gated window() did not substitute:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getStruct(1).getTimestamp(0).toInstant.getEpochSecond,
          r.getAs[Double]("value"), r.getAs[Long]("known"))).toSet
      assert(got == Set((w0, 12.0, 5L)), s"wrong gated-known windows: $got")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("date_trunc('hour') grouping substitutes to an hourly level") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-trunc").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 600), ArchiveInfo(3600, 48)), xff = 0f))
    val h0 = (Now - 30000) / 3600 * 3600
    // 6 points per hour across two hours
    val pts = (0 until 12).map(i => ("m", h0 + i * 600L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          date_trunc("hour", timestamp_seconds(col("interval"))).as("hour"))
        .agg(avg(col("value")).as("value"))
      assert(!hasAggregate(q),
        s"date_trunc substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getTimestamp(1).toInstant.getEpochSecond,
          r.getAs[Double]("value"))).toSet
      assert(got == Set((h0, 12.5), (h0 + 3600L, 18.5)), s"wrong hours: $got")

      // week truncation is NOT epoch-aligned (epoch is a Thursday) —
      // never substituted even if some level matched 604800s
      val wk = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          date_trunc("week", timestamp_seconds(col("interval"))).as("wk"))
        .agg(avg(col("value")).as("value"))
      assert(hasAggregate(wk), "week truncation wrongly substituted")

      // minute truncation matches only level 0 (no coarser 60s level) —
      // identity substitution must not fire
      val mn = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          date_trunc("minute", timestamp_seconds(col("interval"))).as("mn"))
        .agg(avg(col("value")).as("value"))
      assert(hasAggregate(mn), "minute truncation wrongly substituted")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("gated date_trunc shape substitutes on an xff>0 store (dropped and kept count)") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-truncgate").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(600, 600), ArchiveInfo(3600, 200)), xff = 0.5f))
    val h0 = (Now - 30000) / 3600 * 3600
    // 4 of 6 slots in hour h0 (passes 0.5); 2 of 6 in h0+3600 (gated)
    val pts = ((0 until 4).map(i => ("m", h0 + i * 600L, 10.0 + i)) ++
      Seq(("m", h0 + 3600L, 99.0), ("m", h0 + 4200L, 98.0))).zipWithIndex
      .map { case ((m, t, v), i) => (m, t, v, i.toLong) }
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      def gated = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          date_trunc("hour", timestamp_seconds(col("interval"))).as("hour"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(6.0) >= lit(0.5f.toDouble))
      // count dropped (3-col)
      val q = gated.select("metric", "hour", "value")
      assert(!hasAggregate(q),
        s"gated date_trunc substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getTimestamp(1).toInstant.getEpochSecond,
          r.getAs[Double]("value"))).toSet
      assert(got == Set((h0, 11.5)), s"wrong gated hours: $got")
      // count KEPT (4-col) — served from the stored exact counts
      val qk = gated
      assert(!hasAggregate(qk),
        s"known-kept gated date_trunc did not substitute:\n${qk.queryExecution.optimizedPlan}")
      val gotK = qk.collect()
        .map(r => (r.getTimestamp(1).toInstant.getEpochSecond,
          r.getAs[Double]("value"), r.getAs[Long]("known"))).toSet
      assert(gotK == Set((h0, 11.5, 4L)), s"wrong gated-known hours: $gotK")
      // a DIFFERENT slots denominator must NOT substitute
      val wrong = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          date_trunc("hour", timestamp_seconds(col("interval"))).as("hour"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5f.toDouble))
        .select("metric", "hour", "value")
      assert(hasAggregate(wrong),
        s"mismatched trunc gate was substituted:\n${wrong.queryExecution.optimizedPlan}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() last kernel — max_by(value, ts) — substitutes on a last-policy store") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-winlast").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)),
        xff = 0f, AggregationMethod.Last))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(max_by(col("value"), col("ts")).as("value"))
      assert(!hasAggregate(q),
        s"window() last substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(_.getAs[Double]("value")).toSet
      assert(got == Set(14.0, 19.0), s"wrong last values: $got") // last per window
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() with a 90s step (no matching level) is NOT rewritten") {
    val (store, _) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "90 seconds"))
        .agg(avg(col("value")).as("value"))
      assert(hasAggregate(q))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() with an EXTRA grouping column is NOT rewritten") {
    // GROUP BY metric, window, value partitions each window by distinct
    // value — finer than the stored rollup. The dispatch guard
    // (groupingExprs.size == 2) must keep every window-shape rewrite
    // away from it; substituting would collapse the sub-groups.
    val (store, _) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"), col("value"))
        .agg(avg(col("value")).as("value2"), count(col("value")).as("known"))
      assert(hasAggregate(q),
        s"extra-grouping aggregate wrongly substituted:\n${q.queryExecution.optimizedPlan}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() with a startTime offset is NOT rewritten") {
    val (store, _) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"),
          window(col("ts"), "300 seconds", "300 seconds", "60 seconds"))
        .agg(avg(col("value")).as("value"))
      assert(hasAggregate(q),
        s"offset window wrongly substituted:\n${q.queryExecution.optimizedPlan}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() over transformed values is NOT rewritten") {
    val (store, _) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"),
          (col("value") * 2).as("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"))
      assert(hasAggregate(q),
        s"transformed-value window wrongly substituted:\n${q.queryExecution.optimizedPlan}")
      val vals = q.collect().map(_.getAs[Double]("value")).toSet
      assert(vals == Set(24.0, 34.0), s"projection dropped: $vals")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() with a value filter is NOT rewritten") {
    val (store, _) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .where(col("value") > 14.5)
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"))
      assert(hasAggregate(q))
      val vals = q.collect().map(_.getAs[Double]("value")).toSet
      assert(vals == Set(17.0), s"filter dropped: $vals")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("pruned window() shape: grid join reading only (window, value) substitutes") {
    import spark.implicits._
    val (store, w0) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val agg = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"))
        .select(col("window"), col("value")) // metric pruned by the reader
      val grid = Seq(w0, w0 + 300L, w0 + 600L).toDF("slot")
        .select(timestamp_seconds(col("slot")).as("start"))
      val q = grid.join(agg, grid("start") === agg("window.start"), "left")
        .select(col("start"), col("value"))
      assert(!hasAggregate(q),
        s"pruned window() substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
      assert(got == Set((w0, Some(12.0)), (w0 + 300L, Some(17.0)),
        (w0 + 600L, None)), s"wrong grid rows: $got")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("pruned window() shape with a value filter below the aggregate is NOT rewritten") {
    val (store, _) = mkStore()
    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .where(col("value") > 14.5)
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"))
        .select(col("window"), col("value"))
      assert(hasAggregate(q),
        s"value-filtered pruned window wrongly substituted:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(_.getAs[Double]("value")).toSet == Set(17.0))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() 4-output shape under an arbitrary HAVING substitutes on an xff=0 store") {
    val (store, w0) = mkStore() // xff=0, exact stored counts
    RollupSubstitution.register(spark, store)
    try {
      // NOT the store's gate: an arbitrary user threshold over the kernel
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("value") > 12.5)
      assert(!hasAggregate(q),
        s"HAVING-any window() substitution did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getStruct(1).getTimestamp(0).toInstant.getEpochSecond,
          r.getAs[Double]("value"), r.getAs[Long]("known"))).toSet
      assert(got == Set((w0 + 300L, 17.0, 5L)), s"wrong HAVING rows: $got")

      // known-threshold spelling rides the same substitution
      val q2 = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") >= 5)
      assert(!hasAggregate(q2),
        s"known-HAVING window() did not substitute:\n${q2.queryExecution.optimizedPlan}")
      assert(q2.collect().length == 2)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("window() 4-output arbitrary HAVING on an xff>0 store is NOT rewritten") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-winhavneg").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = ((0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i)) :+
      ("m", w0 + 300L, 99.0)).zipWithIndex
      .map { case ((m, t, v), i) => (m, t, v, i.toLong) }
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      // the level lacks sub-gate windows (w0+300 was gated out), so an
      // arbitrary HAVING must recompute — substitution would lose rows
      val q = store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") >= 1)
      assert(hasAggregate(q),
        s"xff>0 HAVING-any window wrongly substituted:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().length == 2) // both windows, incl. the sub-gate one
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("pruned date_trunc shape: grid join reading only (hour, value) substitutes") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-truncgrid").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 600), ArchiveInfo(3600, 48)), xff = 0f))
    val h0 = (Now - 30000) / 3600 * 3600
    val pts = (0 until 12).map(i => ("m", h0 + i * 600L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    assertSubstitutedExact(store) {
      val agg = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          date_trunc("hour", timestamp_seconds(col("interval"))).as("hour"))
        .agg(avg(col("value")).as("value"))
        .select(col("hour"), col("value")) // metric pruned by the reader
      val grid = Seq(h0, h0 + 3600L, h0 + 7200L).toDF("slot")
        .select(timestamp_seconds(col("slot")).as("start"))
      grid.join(agg, grid("start") === agg("hour"), "left")
        .select(col("start"), col("value"))
    }
  }

  test("gated window() shape with renamed, reordered outputs substitutes on an xff>0 store") {
    import spark.implicits._
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-wingateren").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300
    // 5 points in window w0 (passes 0.5), 1 point in w0+300 (1/5 fails)
    val pts = ((0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i)) :+
      ("m", w0 + 300L, 99.0)).zipWithIndex
      .map { case ((m, t, v), i) => (m, t, v, i.toLong) }
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    assertSubstitutedExact(store) {
      store.levelData(0)
        .select(col("metric"), timestamp_seconds(col("interval")).as("ts"), col("value"))
        .groupBy(col("metric"), window(col("ts"), "300 seconds").as("w"))
        .agg(avg(col("value")).as("v"), count(col("value")).as("n"))
        .where(col("n") > 0 &&
          col("n").cast("double") / lit(5.0) >= lit(0.5f.toDouble))
        .select(col("v"), col("w"), col("metric").as("m"))
    }
  }
}
