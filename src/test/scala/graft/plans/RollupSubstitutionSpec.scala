package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._
import graft.store.MetricStore

/** The archive-selection optimizer rule: window aggregations over level-0
  * are answered from the precomputed rollup level.
  */
class RollupSubstitutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Now = 1706659200L

  test("matching window aggregate is rewritten to scan the rollup level") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"))

      val optimized = q.queryExecution.optimizedPlan
      val hasAggregate = optimized.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty
      assert(!hasAggregate, s"rollup substitution did not fire:\n$optimized")

      // and the substituted result equals the recomputed aggregate
      val got = q.orderBy("interval").collect()
        .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
      assert(got == Map(w0 -> 12.0, (w0 + 300) -> 17.0))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("ORDER BY ... LIMIT above a matched aggregate substitutes (top-k read)") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt-topk").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"))
        .orderBy(col("value").desc, col("interval"))
        .limit(1)
      val optimized = q.queryExecution.optimizedPlan
      assert(optimized.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, s"top-k substitution did not fire:\n$optimized")
      // Sort+Limit ride on the substituted scan: physically a top-k
      // (TakeOrderedAndProject), not a full sort of a re-aggregation
      assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
        s"top-k did not plan as TakeOrderedAndProject:\n${q.queryExecution.executedPlan}")
      val got = q.collect().map(r =>
        r.getAs[Long]("interval") -> r.getAs[Double]("value")).toSeq
      assert(got == Seq((w0 + 300L) -> 17.0), s"wrong top-1 row: $got")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("vacuum that evicts level-0 buckets disables substitution (coarse levels retain longer)") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt-vac").toString, numBuckets = 4)
    // finest retention 10 slots (600s); the coarse level keeps 4000
    // windows (1.2Ms) — whisper's archive invariant, so the evicted
    // level-0 bucket's windows SURVIVE in level 1
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 10), ArchiveInfo(300, 4000)), xff = 0f))
    // old points: fresh relative to THEIR write clock, far expired at Now
    val tOld = Now - 15L * 61440L // well past a level-0 bucket span
    val old = (0 until 5).map(i => ("m", tOld - 300 + i * 60L, 1.0 + i, i.toLong))
    store.updateMany(old.toDF("metric", "ts", "value", "seq"), tOld)
    assert(store.rollupsDerivedFromLevel0)

    store.vacuum(Now) // drops the expired level-0 bucket; level 1 keeps it
    assert(!store.rollupsDerivedFromLevel0,
      "level-0 eviction must mark rollups diverged")

    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"))
      assert(q.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty,
        "substitution must refuse after level-0 eviction — the level holds windows the recompute cannot produce")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("a vacuum interrupted after its first level-0 eviction leaves substitution exact") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt-vac-crash").toString, numBuckets = 4)
    // level 0 keeps one day, level 1 thirty: evicted level-0 windows
    // survive in level 1
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 1440), ArchiveInfo(300, 8640)), xff = 0f))
    // 23 h of points, all inside level 0's retention when written, over
    // more than one level-0 time bucket (61,440 s each)
    val t0 = Now - Now % 300 - 23 * 3600L
    val pts = (0 until 23 * 60).map(i => ("m", t0 + i * 60L, i.toDouble, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    assert(store.rollupsDerivedFromLevel0)
    assert(store.levelData(0).select("tb").distinct().count() > 1)

    // every level-0 bucket is expired five days on; the crash lands right
    // after the first one is deleted
    store.afterEviction = _ => throw new IllegalStateException("crashed mid-vacuum")
    intercept[IllegalStateException](store.vacuum(Now + 5 * 86400L))
    store.afterEviction = _ => ()

    def query() = store.levelData(0)
      .select("metric", "interval", "value")
      .groupBy(col("metric"),
        (col("interval") - col("interval") % lit(300L)).as("interval"))
      .agg(avg(col("value")).as("value"))
    def rows() = query().collect()
      .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
    val expected = rows()
    // level 0 kept some windows, and level 1 still holds the evicted ones:
    // a level-1 scan would answer more windows than level 0 can
    assert(expected.nonEmpty && store.levelData(1).count() > expected.size)
    RollupSubstitution.register(spark, store)
    try {
      val got = rows()
      if (got != expected)
        fail(s"substituted answer has ${got.size} windows, level 0 has ${expected.size}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("substitution survives later actions: fresh QueryExecutions re-plan substituted") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt-replan").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    // double registration stays idempotent (one rule instance)
    RollupSubstitution.register(spark, store)
    assert(spark.experimental.extraOptimizations.count {
      case r: RollupSubstitution => r.store.root == store.root
      case _ => false
    } == 1)
    try {
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"))
      assert(q.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty)
      // a LATER action (what Bench's .count() does) builds a fresh
      // QueryExecution — with the rule still registered it must re-plan
      // substituted, not silently fall back to the recompute
      val later = q.select("*")
      assert(later.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty,
        s"later action lost the substitution:\n${later.queryExecution.optimizedPlan}")
      assert(later.count() == 2)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("renamed outputs substitute by exprId role, keeping the query's names") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt-rename").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    try {
      // dashboard-style names: the shape is the same, only names differ
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("bucket"))
        .agg(avg(col("value")).as("avg_v"))
      val optimized = q.queryExecution.optimizedPlan
      assert(optimized.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, s"renamed-output substitution did not fire:\n$optimized")
      assert(q.columns.toSeq == Seq("metric", "bucket", "avg_v"))
      val got = q.orderBy("bucket").collect()
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("avg_v")).toMap
      assert(got == Map(w0 -> 12.0, (w0 + 300) -> 17.0))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("floor/div alignment spellings and the last kernel are recognized") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt3").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)),
        xff = 0f, AggregationMethod.Last))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    try {
      def assertSubstituted(q: org.apache.spark.sql.DataFrame): Unit = {
        val optimized = q.queryExecution.optimizedPlan
        assert(optimized.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.isEmpty, s"substitution did not fire:\n$optimized")
        val got = q.orderBy("interval").collect()
          .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
        assert(got == Map(w0 -> 14.0, (w0 + 300) -> 19.0)) // last per window
      }
      val l0 = store.levelData(0).select("metric", "interval", "value")
      assertSubstituted(
        l0.groupBy(col("metric"),
            expr("(interval div 300) * 300").as("interval"))
          .agg(max_by(col("value"), col("interval")).as("value")))
      assertSubstituted(
        l0.groupBy(col("metric"),
            (floor(col("interval") / lit(300L)) * lit(300L)).as("interval"))
          .agg(max_by(col("value"), col("interval")).as("value")))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("xff-gated query shape substitutes on an xff>0 store") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt4").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300
    // window w0: 5/5 slots (passes 0.5); window w0+300: 2/5 (gated out)
    val pts = (0 until 7).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    try {
      val q = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5))
        .select("metric", "interval", "value")
      val optimized = q.queryExecution.optimizedPlan
      assert(optimized.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, s"gated substitution did not fire:\n$optimized")
      val got = q.collect().map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
      assert(got == Map(w0 -> 12.0)) // gated window absent, value from level-1

      // a WRONG xff literal must NOT substitute (it would change results)
      val qWrong = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.2))
        .select("metric", "interval", "value")
      assert(qWrong.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty)

      // an EXTRA conjunct beyond the two gate predicates must NOT
      // substitute even though it references `known` (reviewer finding:
      // the old shape check only required known-referencing conjuncts)
      val qExtra = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5) &&
          col("known") > 3)
        .select("metric", "interval", "value")
      assert(qExtra.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "extra known-conjunct was dropped by substitution")

      // a second ratio predicate with a different denominator likewise
      val qTwoRatios = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5) &&
          col("known").cast("double") / lit(2.0) >= lit(0.9))
        .select("metric", "interval", "value")
      assert(qTwoRatios.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "second ratio conjunct was dropped by substitution")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("cross-renaming projections are NOT substituted (r4 advice)") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-optx").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 7).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    RollupSubstitution.register(spark, store)
    try {
      def gated = store.levelData(0)
        .select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(avg(col("value")).as("value"), count(col("value")).as("known"))
        .where(col("known") > 0 &&
          col("known").cast("double") / lit(5.0) >= lit(0.5))

      // names pass the check but metric/interval columns are SWAPPED.
      // With exact counts the INNER 4-col Filter+Aggregate substitutes
      // first (exprIds preserved → the outer rename stays semantically
      // correct); the values must come back swapped either way.
      def swapped = gated.select(
        col("interval").as("metric"), col("metric").as("interval"), col("value"))
      val got = swapped.collect()
        .map(r => r.getAs[Long]("metric") -> r.getAs[Double]("value")).toMap
      assert(got == Map(w0 -> 12.0), s"swapped values wrong: $got")

      // degrade count exactness: the inner 4-col rewrite can no longer
      // fire, so the OUTER 3-col positional wiring is the only match —
      // its exprId binding must refuse the cross-rename (the r4 hole:
      // name checks alone passed and returned un-swapped columns)
      store.markCountsApprox()
      assert(swapped.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "cross-renamed projection was substituted")
      val got2 = swapped.collect()
        .map(r => r.getAs[Long]("metric") -> r.getAs[Double]("value")).toMap
      assert(got2 == Map(w0 -> 12.0), s"swapped values wrong post-degrade: $got2")

      // the gate count renamed to `value` must not be taken for the kernel
      val countAsValue = gated.select(
        col("metric"), col("interval"), col("known").as("value"))
      assert(countAsValue.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "count-as-value projection was substituted")

      // the straight spelling still substitutes (fix must not over-reject)
      val straight = gated.select("metric", "interval", "value")
      assert(straight.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, "straight gated shape stopped substituting")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("substitution fires on the pure SQL path through Engine.install views") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt5").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = (0 until 10).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    graft.Engine.install(spark, store, "sub")
    try {
      val q = spark.sql(
        """SELECT metric, interval - interval % 300 AS interval, avg(value) AS value
          |FROM sub_level_0 GROUP BY 1, 2""".stripMargin)
      val optimized = q.queryExecution.optimizedPlan
      assert(optimized.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, s"SQL-path substitution did not fire:\n$optimized")
      val got = q.orderBy("interval").collect()
        .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
      assert(got == Map(w0 -> 12.0, (w0 + 300) -> 17.0))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("non-matching kernel or step is NOT rewritten") {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-opt2").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    store.updateMany(Seq(("m", Now - 600, 1.0, 0L)).toDF("metric", "ts", "value", "seq"), Now)
    RollupSubstitution.register(spark, store)
    try {
      // sum != policy's average → must keep the aggregate
      val qSum = store.levelData(0).select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(300L)).as("interval"))
        .agg(sum(col("value")).as("value"))
      assert(qSum.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty)

      // 90s grid matches no level → keep the aggregate
      val q90 = store.levelData(0).select("metric", "interval", "value")
        .groupBy(col("metric"),
          (col("interval") - col("interval") % lit(90L)).as("interval"))
        .agg(avg(col("value")).as("value"))
      assert(q90.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty)
    } finally spark.experimental.extraOptimizations = Nil
  }
}
