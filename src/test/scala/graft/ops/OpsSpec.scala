package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._

/** Spark-side semantics of the core dataflow operators, checked against
  * the pure-Scala reference kernels on controlled data.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Now = 1706659200L

  test("routeAndDedup: level routing + last-write-wins (whisper.py:767-784,806-808)") {
    val policy = RetentionPolicy(Seq(ArchiveInfo(60, 60), ArchiveInfo(300, 1000)))
    // ages: 30 (level 0), 3599 (level 0 retention=3600), 3601 (level 1),
    // 299999 (level 1 retention=300000), 300001 (dropped)
    val batch = Seq(
      ("m", Now - 30, 1.0, 1L),
      // same ts: the FIRST-listed point wins (whisper sorts by ts desc
      // stable then reverses the whole list, so equal-ts duplicates sit
      // in reversed listed order and "last in run" is the first listed —
      // verified against the executing reference by tools/DiffFuzz)
      ("m", Now - 30, 2.0, 2L),
      ("m", Now - 3599, 3.0, 3L),
      ("m", Now - 3601, 4.0, 4L),
      ("m", Now - 299999, 5.0, 5L),
      ("m", Now - 300001, 6.0, 6L)
    ).toDF("metric", "ts", "value", "seq")
    val out = Ingest.routeAndDedup(batch, policy, Now)
      .orderBy("level", "interval")
      .collect()
      .map(r => (r.getAs[Int]("level"), r.getAs[Long]("interval"), r.getAs[Double]("value")))
    assert(out.count(_._1 == 0) == 2)
    assert(out.count(_._1 == 1) == 2)
    assert(out.length == 4) // the 300001-age point silently dropped
    // duplicate resolution at the shared slot: same ts -> first listed
    val slot = Grid.alignDown(Now - 30, 60)
    assert(out.contains((0, slot, 1.0)))
  }

  test("routeAndDedup: same-interval different-ts duplicates keep the max-ts point") {
    // two points in one slot at DIFFERENT raw timestamps: the reference's
    // ring write order (ascending ts after the reverse) leaves the later
    // TIMESTAMP standing regardless of list position (whisper.py:748,770,
    // 806-808; pinned by tools/DiffFuzz)
    val policy = RetentionPolicy(Seq(ArchiveInfo(60, 60), ArchiveInfo(300, 1000)))
    val batch = Seq(
      ("m", Now - 10, 7.0, 1L), // later ts, listed first
      ("m", Now - 20, 8.0, 2L) // earlier ts, listed later (arrival LWW would keep it)
    ).toDF("metric", "ts", "value", "seq")
    val out = Ingest.routeAndDedup(batch, policy, Now).collect()
      .map(r => (r.getAs[Long]("interval"), r.getAs[Double]("value")))
    assert(out.toSeq == Seq((Grid.alignDown(Now - 10, 60), 7.0)))
  }

  test("routeAndDedup: null-valued points are gaps — dropped before LWW") {
    val policy = RetentionPolicy(Seq(ArchiveInfo(60, 60), ArchiveInfo(300, 1000)))
    val batch = Seq(
      ("m", Now - 30, Some(1.0), 1L),
      // a LATER null write must not erase the real point: whisper can
      // only write floats, so the null write never existed
      ("m", Now - 30, None, 2L),
      // a slot fed ONLY nulls must produce no row at all
      ("m", Now - 90, None, 3L)
    ).toDF("metric", "ts", "value", "seq")
    val out = Ingest.routeAndDedup(batch, policy, Now).collect()
      .map(r => (r.getAs[Long]("interval"), r.getAs[Double]("value")))
    assert(out.toSeq == Seq((Grid.alignDown(Now - 30, 60), 1.0)))
  }

  test("rollup matches pure-Scala kernels for every method") {
    // 10s grid → 60s windows (6 slots); xff 0.5 needs ≥3 known
    val pts = Seq(
      ("m", 600L, 1.0), ("m", 610L, -5.0), ("m", 620L, 3.0), // 3 known → passes
      ("m", 660L, 7.0), ("m", 670L, 2.0), // 2 known → gated out
      ("m", 720L, -1.0), ("m", 730L, 4.0), ("m", 740L, -4.0), ("m", 750L, 2.0)
    ).toDF("metric", "interval", "value")
    val expect = Map[AggregationMethod, Map[Long, Double]](
      AggregationMethod.Average -> Map(600L -> (-1.0 / 3), 720L -> 0.25),
      AggregationMethod.Sum -> Map(600L -> -1.0, 720L -> 1.0),
      AggregationMethod.Last -> Map(600L -> 3.0, 720L -> 2.0),
      AggregationMethod.Max -> Map(600L -> 3.0, 720L -> 4.0),
      AggregationMethod.Min -> Map(600L -> -5.0, 720L -> -4.0),
      AggregationMethod.AvgZero -> Map(600L -> (-1.0 / 6), 720L -> (1.0 / 6)),
      AggregationMethod.AbsMax -> Map(600L -> -5.0, 720L -> 4.0), // -4 vs 4: first (−1@720? no: |4|=|−4| → earliest is 4 @730)
      AggregationMethod.AbsMin -> Map(600L -> 1.0, 720L -> -1.0)
    )
    expect.foreach {
      case (m, want) =>
        val got = Rollup.propagate(pts, 10, 60, m, 0.5f)
          .collect()
          .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value"))
          .toMap
        assert(got == want, s"method $m")
    }
  }

  test("absmax tie keeps the chronologically first value (Python max(key=abs))") {
    val pts = Seq(("m", 0L, -4.0), ("m", 10L, 4.0), ("m", 20L, 1.0))
      .toDF("metric", "interval", "value")
    val got = Rollup.propagate(pts, 10, 60, AggregationMethod.AbsMax, 0f).collect()
    assert(got.head.getAs[Double]("value") == -4.0)
    val got2 = Rollup.propagate(pts, 10, 60, AggregationMethod.AbsMin, 0f).collect()
    assert(got2.head.getAs[Double]("value") == 1.0)
  }

  test("xff gate: known>0 required even at xff=0 (whisper.py:652-655)") {
    val pts = Seq(("m", 0L, 1.0)).toDF("metric", "interval", "value")
    val got = Rollup.propagate(pts, 10, 60, AggregationMethod.Average, 0f).collect()
    assert(got.length == 1) // 1 of 6 known passes xff=0
    val gated = Rollup.propagate(pts, 10, 60, AggregationMethod.Average, 0.5f).collect()
    assert(gated.isEmpty) // 1/6 < 0.5
  }

  test("null-valued level-0 rows: known equals count(value), window stays counted") {
    // ADVICE r5: a bare lit(1L) contribution counted null rows into kcnt,
    // failed the kcnt===rows check, and stored known=NULL for the whole
    // window — a substituted HAVING known >= k then silently dropped rows
    // the unsubstituted recompute returns. Stored known must equal the
    // non-null count, exactly what count(value) computes.
    val pts = Seq(("m", 0L, Some(1.0)), ("m", 10L, None), ("m", 20L, Some(3.0)))
      .toDF("metric", "interval", "value")
    val got = Rollup.propagateCounted(pts, 10, 60, AggregationMethod.Average, 0f).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Double]("value") == 2.0) // avg over non-null
    assert(!r.isNullAt(r.fieldIndex("known")), "null row must not null the window")
    assert(r.getAs[Long]("known") == 2L) // == count(value), not 3
    assert(r.getAs[Double]("vsum") == 4.0)
  }

  test("planFetch: range normalization (whisper.py:913-937)") {
    val p = RetentionPolicy(Seq(ArchiveInfo(60, 60))) // 1 hour retention
    intercept[InvalidTimeInterval](Fetch.planFetch(p, 100, 50, Now))
    // entirely future → None (whisper.py:928-929)
    assert(Fetch.planFetch(p, Now + 10, Now + 20, Now).isEmpty)
    // entirely beyond retention → None (whisper.py:930-931)
    assert(Fetch.planFetch(p, Now - 7200, Now - 3601, Now).isEmpty)
    // until clamped to now; from clamped to oldest
    val Some((lvl, from, until)) = Fetch.planFetch(p, Now - 7200, Now + 100, Now)
    assert(lvl == 0 && from == Now - 3600 && until == Now)
  }

  test("gridBounds: +step endpoints; zero-length yields one slot (whisper.py:970-976)") {
    assert(Fetch.gridBounds(100, 160, 60) == (120, 180))
    assert(Fetch.gridBounds(120, 120, 60) == (180, 240)) // aligned+step, then +step for zero length
    assert(Fetch.gridBounds(0, 59, 60) == (60, 120))
  }

  test("fetchGrid: dense vector with nulls for gaps and stale slots") {
    val pts = Seq(("m", 120L, 1.0), ("m", 240L, 2.0)).toDF("metric", "interval", "value")
    val rows = Fetch.fetchGrid(spark, pts, Seq("m"), 100, 280, 60)
      .orderBy("interval").collect()
    // grid: 120, 180, 240, 300(excl) → 120,180,240
    assert(rows.map(_.getAs[Long]("interval")).toSeq == Seq(120L, 180L, 240L))
    assert(rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(1.0), None, Some(2.0)))
  }

  test("merge/fill precedence and diff (whisper.py:1037-1149)") {
    val src = Seq(("m", 0L, 1.0), ("m", 60L, 2.0)).toDF("metric", "interval", "value")
    val dst = Seq(("m", 60L, 9.0), ("m", 120L, 3.0)).toDF("metric", "interval", "value")
    val merged = Combine.merge(src, dst).orderBy("interval")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(merged == Map(0L -> 1.0, 60L -> 2.0, 120L -> 3.0)) // src wins at 60
    val filled = Combine.fill(dst, src).orderBy("interval")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(filled == Map(0L -> 1.0, 60L -> 9.0, 120L -> 3.0)) // dst keeps 60
    val diffs = Combine.diff(src, dst).collect()
    assert(diffs.length == 3) // 0 (only src), 60 (differ), 120 (only dst)
  }

  test("debug instrumentation counts IO records (whisper.py:225-273 analog)") {
    Debug.enableDebug(spark)
    Debug.reset()
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").count()
    // listener events arrive asynchronously
    val deadline = System.currentTimeMillis + 5000
    while (Debug.stats().readRecords == 0 && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    assert(Debug.stats().readRecords > 0)
    Debug.disableDebug(spark)
    assert(Debug.stats().readRecords == 0)
  }

  test("diff ignore_empty keeps only both-present disagreements (whisper.py:1140-1143)") {
    val a = Seq(("m", 0L, 1.0), ("m", 60L, 2.0)).toDF("metric", "interval", "value")
    val b = Seq(("m", 60L, 9.0), ("m", 120L, 3.0)).toDF("metric", "interval", "value")
    assert(Combine.diff(a, b).count() == 3) // one-sided rows included
    val strict = Combine.diff(a, b, ignoreEmpty = true).collect()
    assert(strict.length == 1 && strict.head.getLong(1) == 60L)
  }

  test("cascade materializes every level (resize path)") {
    val p = RetentionPolicy(Seq(ArchiveInfo(10, 100), ArchiveInfo(60, 100),
      ArchiveInfo(300, 100)), xff = 0f)
    val pts = (0 until 30).map(i => ("m", i * 10L, i.toDouble))
      .toDF("metric", "interval", "value")
    val levels = Rollup.cascade(pts, p)
    assert(levels.length == 3)
    assert(levels(0).count() == 30)
    assert(levels(1).count() == 5) // 300s of data / 60s
    assert(levels(2).count() == 1)
    // level 2 average of level-1 averages == overall average here (uniform windows)
    val l2 = levels(2).collect().head.getAs[Double]("value")
    assert(math.abs(l2 - 14.5) < 1e-9)
  }
}
