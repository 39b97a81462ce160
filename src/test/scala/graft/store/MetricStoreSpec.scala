package graft.store

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._
import graft.ops.Fetch

/** End-to-end store semantics: the ScalaTest port of the reference
  * round-trip/exception tests (/root/reference/test_whisper.py:286-376,
  * 555-707,733-793,815-866).
  */
class MetricStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Now = 1706659200L

  private def freshStore(): MetricStore =
    new MetricStore(spark, Files.createTempDirectory("ms").toString, numBuckets = 4)

  test("create/info/duplicate-create (test_whisper.py:286-322)") {
    val store = freshStore()
    val p = RetentionPolicy(Seq(ArchiveInfo(1, 60), ArchiveInfo(60, 60)))
    store.create("a.b.c", p)
    val Some((got, levels)) = store.info("a.b.c")
    assert(got.xff == 0.5f && got.aggregation == AggregationMethod.Average)
    assert(got.maxRetention == 3600L)
    assert(levels.map(_.offset) == Seq(40L, 760L))
    intercept[InvalidConfiguration](store.create("a.b.c", p))
  }

  test("update/fetch round-trip with dense contract (test_whisper.py:555-576)") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 120))))
    val pts = (0 until 10).map(i => ("m", Now - 600 + i * 60L, i * 1.5, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    val Some(res) = store.fetch("m", Now - 600, Now, Now)
    assert(res.step == 60)
    assert(res.values.length == (res.untilInterval - res.fromInterval) / 60)
    // grid starts one step ABOVE fromTime (whisper.py:970-972), so the
    // point exactly at Now-600 (value 0.0) is excluded by contract
    assert(res.values.flatten == (1 to 9).map(_ * 1.5))
  }

  test("update: TimestampNotCovered both directions (test_whisper.py:662-672)") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 60)))) // 1h retention
    val e1 = intercept[TimestampNotCovered](store.update("m", 1.0, Now + 60, Now))
    assert(e1.getMessage == "Timestamp not covered by any archives in this database.")
    intercept[TimestampNotCovered](store.update("m", 1.0, Now - 3600, Now))
    // in-range single update works and overwrites (last write wins)
    store.update("m", 1.0, Now - 60, Now)
    store.update("m", 2.0, Now - 60, Now)
    val Some(res) = store.fetch("m", Now - 120, Now, Now)
    assert(res.values.flatten == Seq(2.0))
  }

  test("rollup cascade writes coarser levels with xff gating") {
    val store = freshStore()
    // 60s → 300s (5 slots), xff 0.5 → ≥3 points per window propagate
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0.5f))
    val base = Now - 3000
    val w0 = base - base % 300 // full window: 5 points
    val w1 = w0 + 300 // sparse window: 2 points → gated
    val pts = (0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong)) ++
      Seq(("m", w1, 1.0, 10L), ("m", w1 + 60, 2.0, 11L))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    val l1 = store.levelData(1).collect()
      .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
    assert(l1.get(w0) == Some(12.0)) // avg(10..14)
    assert(!l1.contains(w1)) // 2/5 < 0.5 gated
    // fetch at coarse granularity sees the rollup
    val Some(res) = store.fetch("m", w0 - 1, w0 + 300, Now, archiveToSelect = Some(300))
    assert(res.values.flatten == Seq(12.0))
  }

  test("too-old points silently dropped in bulk; future points land level-0 (whisper.py:767-784)") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 60)))) // 1h
    val pts = Seq(
      ("m", Now - 7200, 1.0, 0L), // too old → dropped, no error
      ("m", Now + 120, 2.0, 1L), // future → level 0 (update_many doesn't reject)
      ("m", Now - 60, 3.0, 2L))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    val l0 = store.levelData(0).collect().map(_.getAs[Double]("value")).toSet
    assert(l0 == Set(2.0, 3.0))
  }

  test("setAggregationMethod/setXFilesFactor return old values (test_whisper.py:608-645)") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 60))))
    val old = store.setAggregationMethod("m", AggregationMethod.Sum)
    assert(old == AggregationMethod.Average)
    assert(store.info("m").get._1.aggregation == AggregationMethod.Sum)
    val oldX = store.setXFilesFactor("m", 0.2f)
    assert(oldX == 0.5f)
    assert(store.info("m").get._1.xff.toDouble == 0.20000000298023224)
    intercept[InvalidXFilesFactor](store.setXFilesFactor("m", 2.0f))
  }

  test("resize re-bins through the new policy and swaps (test_whisper.py:815-866)") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 100)), xff = 0f))
    val pts = (0 until 10).map(i => ("m", Now - 1200 + i * 60L, i.toDouble, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    val resized = store.resize(
      RetentionPolicy(Seq(ArchiveInfo(300, 100)), xff = 0f), Now)
    assert(resized.info("m").get._1.levels.head.secondsPerPoint == 300)
    val Some(res) = resized.fetch("m", Now - 1500, Now, Now)
    assert(res.step == 300)
    // 10 one-minute points (values 0..9) re-bin into two 300s averages:
    // avg(0..4)=2 and avg(5..9)=7
    assert(res.values.flatten == Seq(2.0, 7.0))
  }

  test("mergeMetric/fillMetric precedence; diffMetrics reports disagreements") {
    val store = freshStore()
    val p = RetentionPolicy(Seq(ArchiveInfo(60, 120)))
    Seq("src", "dst", "dst2").foreach(store.create(_, p))
    val pts = Seq(
      ("src", Now - 300, 1.0, 0L), ("src", Now - 240, 2.0, 1L),
      ("dst", Now - 240, 9.0, 2L), ("dst", Now - 180, 3.0, 3L),
      ("dst2", Now - 240, 9.0, 4L), ("dst2", Now - 180, 3.0, 5L))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)

    store.mergeMetric("src", "dst", now = Now) // src wins at Now-240
    val merged = store.levelData(0).where($"metric" === "dst").collect()
      .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
    assert(merged == Map(
      Now - 300 -> 1.0, Now - 240 -> 2.0, Now - 180 -> 3.0))

    store.fillMetric("dst2", "src") // dst2 keeps 9.0 at Now-240, gains Now-300
    val filled = store.levelData(0).where($"metric" === "dst2").collect()
      .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
    assert(filled == Map(
      Now - 300 -> 1.0, Now - 240 -> 9.0, Now - 180 -> 3.0))

    // time-clamped merge copies only the in-range slot
    store.create("dst3", p)
    store.updateMany(Seq(("dst3", Now - 180, 7.0, 9L))
      .toDF("metric", "ts", "value", "seq"), Now)
    store.mergeMetric("src", "dst3",
      timeFrom = Some(Now - 250), timeTo = Some(Now - 200), now = Now)
    val clamped = store.levelData(0).where($"metric" === "dst3").collect()
      .map(r => r.getAs[Long]("interval") -> r.getAs[Double]("value")).toMap
    assert(clamped == Map(Now - 240 -> 2.0, Now - 180 -> 7.0)) // Now-300 excluded

    val d = store.diffMetrics("src", "dst2").collect()
    // src: (-300,1),( -240,2); dst2: (-300,1),(-240,9),(-180,3)
    // differ at -240 (2 vs 9) and -180 (null vs 3); agree at -300
    assert(d.length == 2)

    // mismatched configs refuse (whisper.py:1054-1057)
    store.create("other", RetentionPolicy(Seq(ArchiveInfo(30, 120))))
    intercept[UnsupportedOperationException](store.mergeMetric("src", "other"))
  }

  test("transformValues rewrites every slot (auto-update analog)") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 120))))
    store.updateMany(Seq(("m", Now - 120, 2.0, 0L), ("m", Now - 60, 3.0, 1L))
      .toDF("metric", "ts", "value", "seq"), Now)
    store.transformValues("m", _ * 10)
    val vals = store.levelData(0).collect().map(_.getAs[Double]("value")).toSet
    assert(vals == Set(20.0, 30.0))
  }

  test("fetchFrame (distributed fetch) and SQL views") {
    val store = freshStore()
    store.create("x", RetentionPolicy(Seq(ArchiveInfo(60, 120))))
    store.create("y", RetentionPolicy(Seq(ArchiveInfo(60, 120))))
    store.updateMany(Seq(
      ("x", Now - 120, 1.0, 0L), ("y", Now - 60, 2.0, 1L))
      .toDF("metric", "ts", "value", "seq"), Now)

    // multi-metric dense frame, no collect in the plan until here
    val Some(df) = store.fetchFrame(Seq("x", "y"), Now - 180, Now, Now)
    val rows = df.orderBy("metric", "interval").collect()
    assert(rows.length == 6) // 3 slots × 2 metrics, dense
    assert(rows.count(!_.isNullAt(2)) == 2)

    graft.Engine.install(spark, store, "g")
    val viaSql = spark.sql(
      "SELECT metric, count(*) AS n FROM g_level_0 GROUP BY 1 ORDER BY 1").collect()
    assert(viaSql.map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      Seq("x" -> 1L, "y" -> 1L))
    assert(spark.sql("SELECT count(*) FROM g_policies").head().getLong(0) == 2L)
    // the custom expression is callable from SQL after install
    val dp = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(dp == 11.0)
    spark.experimental.extraOptimizations = Nil // don't leak into other suites
  }

  test("incremental ingest rewrites ONLY touched (pb, tb) partitions") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 100000)))) // ~69 days
    // batch A: points spread across many time buckets (bucket = 60·1024 s)
    val bucket = 60L * 1024
    val ptsA = (0 until 40).map(i => ("m", Now - i * (bucket / 4), i.toDouble, i.toLong))
    store.updateMany(ptsA.toDF("metric", "ts", "value", "seq"), Now)

    def partFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val root = new java.io.File(store.root + "/level_0")
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath.stripPrefix(root.getPath) -> f.lastModified()).toMap
    }
    val before = partFiles()
    assert(before.keys
      .map(_.split("/").filter(_.startsWith("tb=")).head).toSet.size > 5,
      "several tb partitions exist")

    Thread.sleep(1100) // mtime resolution
    // batch B: one point in one bucket
    store.updateMany(Seq(("m", Now - 30, 99.0, 100L))
      .toDF("metric", "ts", "value", "seq"), Now)
    val after = partFiles()

    // every pre-existing file outside the touched bucket is byte-for-byte
    // untouched (same path, same mtime); only the touched partition changed
    val changedDirs = (after.keySet ++ before.keySet)
      .filter(p => before.get(p) != after.get(p))
      .map(_.split("/").filter(_.startsWith("tb=")).head)
    assert(changedDirs.size == 1, s"expected 1 touched tb dir, got $changedDirs")
    // and the data merged correctly (99.0 landed in slot Now-60)
    val Some(res) = store.fetch("m", Now - 120, Now, Now)
    assert(res.values.flatten.contains(99.0))
  }

  test("vacuum drops expired time buckets") {
    val store = freshStore()
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(1, 1000)))) // ~17 min retention
    val pts = Seq(("m", Now - 10, 1.0, 0L)).toDF("metric", "ts", "value", "seq")
    store.updateMany(pts, Now)
    assert(store.levelData(0).count() == 1)
    store.vacuum(Now + 100000) // far future: everything expired
    assert(store.levelData(0).count() == 0)
  }

  test("batch landing ONLY in a coarse archive still cascades deeper (whisper.py:858-875)") {
    val store = freshStore()
    // 1m:2d, 5m:7d, 30m:14d — points aged ~3d skip level 0 entirely
    store.create("m", RetentionPolicy(
      Seq(ArchiveInfo(60, 2880), ArchiveInfo(300, 2016), ArchiveInfo(1800, 672))))
    val base = Now - 3 * 86400
    val w0 = base - base % 1800
    // one full 30-min window of 5-min points, all older than 2d
    val pts = (0 until 6).map(i => ("m", w0 + i * 300L, 10.0 + i, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    assert(store.levelData(0).count() == 0) // too old for level 0
    assert(store.levelData(1).count() == 6) // direct write at level 1
    // the level-1 direct writes must have propagated to level 2
    val l2 = store.levelData(2).select("interval", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(l2 == Map(w0 -> 12.5)) // avg(10..15)
  }

  test("vacuum on a heterogeneous store evicts per-metric (row-level)") {
    val store = freshStore()
    store.create("short", RetentionPolicy(Seq(ArchiveInfo(60, 10))))  // 10 min
    store.create("long", RetentionPolicy(Seq(ArchiveInfo(60, 1440)))) // 1 day
    val pts = Seq(
      ("short", Now - 120, 1.0, 0L), // fresh
      ("short", Now - 540, 2.0, 1L), // fresh (within 10 min)
      ("long", Now - 120, 3.0, 2L),
      ("long", Now - 7200, 4.0, 3L)  // 2h old: fine for long, dead for short
    ).toDF("metric", "ts", "value", "seq")
    store.updateMany(pts, Now)
    assert(store.levelData(0).count() == 4)

    // 30 min later: both short points aged past its 10-min retention;
    // everything of long's survives (age < 1d)
    val later = Now + 1800
    store.vacuum(later)
    val left = store.levelData(0).select("metric", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(left == Set(("long", 3.0), ("long", 4.0)))

    // far future: everything gone, including partitions left empty
    store.vacuum(Now + 200000)
    assert(store.levelData(0).count() == 0)
  }

  // ---- fetch: single pruned scan vs the dense-grid spelling ----------

  /** The grid-based fetch, kept as the reference: the level read through
    * its root, pruned by the metric's pb and the range's tb, joined onto
    * the dense grid and collected in interval order.
    */
  private def gridFetch(store: MetricStore, metric: String, fromTime: Long,
                        untilTime: Long, now: Long,
                        archiveToSelect: Option[Int]): Option[FetchResult] = {
    val policy = store.policies()(metric)
    Fetch.planFetch(policy, fromTime, untilTime, now, archiveToSelect).map {
      case (level, from, until) =>
        val step = policy.levels(level).secondsPerPoint
        val (fromInterval, untilInterval) = Fetch.gridBounds(from, until, step)
        val bs = store.bucketSeconds(step)
        val pruned = store.levelData(level)
          .where(col("pb") === pmod(hash(lit(metric)), lit(store.effectiveBuckets)) &&
            col("tb") >= fromInterval / bs - 1 && col("tb") <= untilInterval / bs)
          .select("metric", "interval", "value")
        val rows = Fetch.fetchGrid(spark, pruned, Seq(metric), from, until, step)
          .orderBy("interval").collect()
        FetchResult(fromInterval, untilInterval, step,
          rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq)
    }
  }

  private def assertFetchAgrees(store: MetricStore, metric: String, from: Long,
                                until: Long, now: Long, sel: Option[Int],
                                clue: String): Option[FetchResult] = {
    val got = store.fetch(metric, from, until, now, sel)
    assert(got == gridFetch(store, metric, from, until, now, sel),
      s"$clue: fetch($metric, $from, $until, now=$now, $sel)")
    got
  }

  /** Seeded random ranges on every level (precision override) starting
    * up to 1.25 × `span` back, where the data is; every fourth is
    * zero-length. Returns how many ranges found data.
    */
  private def randomRangesAgree(store: MetricStore, metrics: Seq[String],
                                now: Long, span: Long, rnd: scala.util.Random,
                                perLevel: Int, clue: String): Int = {
    val policy = store.policies()(metrics.head)
    var nonEmpty = 0
    for (lvl <- policy.levels; k <- 0 until perLevel) {
      val from = now - (rnd.nextDouble() * (span + span / 4)).toLong
      val len =
        if (k % 4 == 0) 0L else (rnd.nextDouble() * math.min(span, lvl.retention)).toLong
      val until = from + len
      val got = assertFetchAgrees(store, metrics(rnd.nextInt(metrics.size)), from, until,
        now, Some(lvl.secondsPerPoint), s"$clue step ${lvl.secondsPerPoint} #$k")
      if (got.exists(_.values.exists(_.nonEmpty))) nonEmpty += 1
    }
    nonEmpty
  }

  private val eqPolicy = RetentionPolicy(
    Seq(ArchiveInfo(10, 8640), ArchiveInfo(60, 4320), ArchiveInfo(600, 2016)), xff = 0f)
  private val eqMetrics = Seq("web.a", "web.b", "db.c", "db.d", "q.e", "q.f")

  private def randomPoints(rnd: scala.util.Random, n: Int, now: Long,
                           span: Long, seq0: Long) =
    (0 until n).map { i =>
      (eqMetrics(rnd.nextInt(eqMetrics.size)), now - (rnd.nextDouble() * span).toLong,
        math.floor(rnd.nextDouble() * 200) / 2 - 50, seq0 + i)
    }.toDF("metric", "ts", "value", "seq")

  test("fetch == grid reference: random ranges on every level, before and after a per-pb incremental write") {
    val store = freshStore()
    store.createAll(eqMetrics, eqPolicy)
    val rnd = new scala.util.Random(7)
    store.updateMany(randomPoints(rnd, 3000, Now, 4 * 86400L, 0L), Now)
    assert(randomRangesAgree(store, eqMetrics, Now, 4 * 86400L, rnd, 8, "bulk") > 12)

    // zero-length range: exactly one slot (whisper.py:974-976)
    val Some(zero) = assertFetchAgrees(store, "web.a", Now - 500, Now - 500, Now,
      Some(10), "zero-length")
    assert(zero.values.size == 1)

    // a level-0 range straddling several 10240 s time buckets
    val bs0 = store.bucketSeconds(10)
    val Some(wide) = assertFetchAgrees(store, "db.c", Now - 3 * bs0, Now, Now,
      Some(10), "multi-tb")
    val tbsWithData = wide.values.zipWithIndex.collect {
      case (Some(_), j) => (wide.fromInterval + j * 10L) / bs0
    }.toSet
    assert(tbsWithData.size >= 3, s"data in tb buckets $tbsWithData")

    // the incremental batch touches several pbs of every level, so each
    // level's write fans out one job per pb; fetch right after it must see
    // the new files, not a listing cached by the reads above
    assert(eqMetrics.map(store.pbOf).distinct.size >= 2)
    val before = store.fetch("q.e", Now - 3600, Now, Now, Some(10)).get
    val inc = (0 until 40).map(i =>
      (eqMetrics(i % eqMetrics.size), Now - 30 - i * 60L, 1000.0 + i, 10000L + i))
    store.updateMany(inc.toDF("metric", "ts", "value", "seq"), Now)
    val Some(after) = assertFetchAgrees(store, "q.e", Now - 3600, Now, Now,
      Some(10), "after incremental")
    assert(after != before && after.values.flatten.exists(_ >= 1000.0))
    assert(randomRangesAgree(store, eqMetrics, Now, 4 * 86400L, rnd, 4, "incremental") > 2)
  }

  test("fetch == grid reference: missing level directory, vacuumed buckets, pre-epoch store") {
    // cascade = false writes level 0 only; levels 1-2 have no directory
    val flat = freshStore()
    flat.createAll(eqMetrics, eqPolicy)
    val rnd = new scala.util.Random(11)
    flat.updateMany(randomPoints(rnd, 500, Now, 86400L, 0L), Now, cascade = false)
    assert(!new java.io.File(s"${flat.root}/level_1").exists())
    val Some(none) = assertFetchAgrees(flat, "web.b", Now - 86400, Now, Now,
      Some(60), "absent level")
    assert(none.values.forall(_.isEmpty) && none.values.size == 1440)
    assert(randomRangesAgree(flat, eqMetrics, Now, 86400L, rnd, 4, "absent levels") > 1)

    // vacuum far enough ahead to drop the oldest level-0 time buckets
    val store = freshStore()
    store.createAll(eqMetrics, eqPolicy)
    store.updateMany(randomPoints(rnd, 1500, Now, 86400L, 0L), Now)
    def tbDirs(i: Int) = new java.io.File(s"${store.root}/level_$i").listFiles()
      .filter(_.getName.startsWith("pb=")).flatMap(_.listFiles()).length
    val tbBefore = tbDirs(0)
    val later = Now + 86400L / 2
    store.vacuum(later)
    assert(tbDirs(0) < tbBefore, "vacuum dropped level-0 buckets")
    assert(randomRangesAgree(store, eqMetrics, later, 86400L, rnd, 6, "vacuumed") > 6)

    // small clock: now < retention, so stored intervals are negative and
    // tb = interval div bucket truncates toward zero
    val preNow = 3000L
    val pre = freshStore()
    pre.createAll(eqMetrics, eqPolicy)
    pre.updateMany(randomPoints(rnd, 1500, preNow, 86400L, 0L), preNow)
    assert(pre.levelData(0).where(col("interval") < -pre.bucketSeconds(10)).count() > 0)
    assert(pre.levelData(1).where(col("interval") < 0).count() > 0)
    assert(randomRangesAgree(pre, eqMetrics, preNow, 86400L, rnd, 8, "pre-epoch") > 12)
    val Some(straddle) = assertFetchAgrees(pre, "q.f", -3 * pre.bucketSeconds(10),
      preNow, preNow, Some(10), "pre-epoch across tb 0")
    assert(straddle.values.flatten.nonEmpty)
  }

  /** `body`'s result and the number of Spark jobs it submitted, counted
    * by a test-local listener on a job group of its own.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      // listener events arrive in submission order: once the sentinel
      // job's start is seen, every measured job's start has been too
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a warm single-metric fetch submits exactly one Spark job") {
    val store = freshStore()
    store.createAll(eqMetrics, eqPolicy)
    store.updateMany(randomPoints(new scala.util.Random(3), 1000, Now, 86400L, 0L), Now)
    // a one-day level-0 range: three time-bucket directories
    def fetchDay() = store.fetch("web.a", Now - 86400, Now, Now, Some(10))
    fetchDay() // warm: count-column probe
    val (got, jobs) = jobsOf(fetchDay())
    assert(got.exists(_.values.flatten.nonEmpty))
    assert(jobs == 1, s"fetch submitted $jobs jobs")
    // more directories than the parallel-listing threshold: still one
    // job (no listing job), same result
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "1")
    val (grouped, groupedJobs) = try jobsOf(fetchDay()) finally spark.conf.unset(key)
    assert(grouped == got)
    assert(groupedJobs == 1, s"fetch over grouped reads submitted $groupedJobs jobs")
  }

  test("pbOf equals the writer's pb for ~500 names on a reopened num_buckets=8 store") {
    val rnd = new scala.util.Random(5)
    // printable code points from several scripts, incl. supplementary
    // (surrogate-pair) ones; no tab or newline, which the catalog splits on
    val alphabet = (('a' to 'z').map(_.toInt) ++ Seq('.'.toInt, '_'.toInt, '-'.toInt, ' '.toInt) ++
      (0xe0 to 0xff) ++ (0x430 to 0x44f) ++ (0x4e00 to 0x4e40) ++ (0x1f600 to 0x1f640)).toIndexedSeq
    def randomName() = {
      val sb = new java.lang.StringBuilder
      (0 until 1 + rnd.nextInt(12)).foreach(_ => sb.appendCodePoint(alphabet(rnd.nextInt(alphabet.size))))
      sb.toString
    }
    val names = (Seq("", "é", "指标.cpu", "\ud83d\udcc8.load", "a\u0301", "servers.host-01.cpu") ++
      Seq.fill(600)(randomName())).distinct.take(500)
    assert(names.size == 500)
    val root = Files.createTempDirectory("ms-pb").toString
    val first = new MetricStore(spark, root, numBuckets = 8)
    first.createAll(names, RetentionPolicy(Seq(ArchiveInfo(60, 60))))
    first.updateMany(names.zipWithIndex.map { case (m, i) => (m, Now - 60, i.toDouble, i.toLong) }
      .toDF("metric", "ts", "value", "seq"), Now)

    val reopened = new MetricStore(spark, root) // constructor default: 32
    assert(reopened.effectiveBuckets == 8)
    val written = reopened.levelData(0).select("metric", "pb").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(written.keySet == names.toSet)
    names.foreach(m => assert(reopened.pbOf(m) == written(m), s"pbOf(${m.codePoints.toArray.mkString(",")})"))
    assert(written.values.toSet == (0 until 8).toSet)
    // the persisted count is what matters: a 32-bucket store disagrees
    val fresh32 = new MetricStore(spark, Files.createTempDirectory("ms-pb32").toString)
    assert(names.exists(m => fresh32.pbOf(m) != written(m)))
  }
}
