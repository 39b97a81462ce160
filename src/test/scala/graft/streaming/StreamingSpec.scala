package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._
import graft.store.MetricStore

/** Streaming ingest: whisper's write semantics under Structured
  * Streaming (SURVEY.md §2.3 streaming row).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Await a query's ACTUAL termination (AvailableNow terminates when
    * drained) and assert it committed cleanly — `awaitTermination(timeout)`
    * returns false on timeout without raising, so under heavy load an
    * ignored return value let assertions read the store MID-commit (the
    * round-5 flake). The generous bound only limits a hung query.
    */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
                    timeoutMs: Long = 300000): Unit = {
    val terminated = q.awaitTermination(timeoutMs)
    assert(terminated, s"streaming query did not terminate within ${timeoutMs}ms")
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
  }

  private val Now = 1706659200L

  test("foreachBatch micro-batch ingest lands in the store with rollups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-stream").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))

    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")

    val base = Now - 3000
    val w0 = base - base % 300
    mem.addData((0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong)): _*)

    val q = StreamingIngest.start(
      stream, store, Files.createTempDirectory("ckpt").toString, () => Now)
    drain(q)

    val Some(res) = store.fetch("m", w0 - 1, w0 + 300, Now, archiveToSelect = Some(300))
    assert(res.values.flatten == Seq(12.0)) // avg(10..14) propagated
  }

  test("late data within retention is accepted and overwrites (LWW), batch after batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-late").toString, numBuckets = 4)
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 300))))

    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")

    // ONE checkpoint across both runs, so batch 2 holds only the new
    // rows: a late write in a SEPARATE batch is a separate update_many,
    // and whisper's ring write makes the later batch win the slot
    // unconditionally. (A fresh checkpoint would replay everything as
    // one batch, where the within-batch rule — max ts, first-listed on
    // ties, per tools/DiffFuzz — keeps the FIRST point instead.)
    val ckpt = Files.createTempDirectory("ckpt-late").toString
    // batch 1: two fresh points
    mem.addData(("m", Now - 120, 1.0, 0L), ("m", Now - 60, 2.0, 1L))
    val q1 = StreamingIngest.start(stream, store, ckpt, () => Now)
    drain(q1)
    // batch 2: a LATE point for the already-written Now-120 slot, plus
    // one too-old point (beyond retention → silently dropped)
    mem.addData(("m", Now - 120, 9.0, 2L), ("m", Now - 100000, 5.0, 3L))
    val q2 = StreamingIngest.start(stream, store, ckpt, () => Now)
    drain(q2)

    val Some(res) = store.fetch("m", Now - 180, Now, Now)
    assert(res.values.flatten == Seq(9.0, 2.0)) // late write won; too-old dropped
  }

  test("vacuumEvery sweeps expired buckets during a long-running ingest session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-autovac").toString, numBuckets = 4)
    // 60s × 300 slots = 5h retention; buckets span 1024 slots ≈ 17h
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 300))))

    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")

    // session 1: a point written long ago (fresh relative to ITS clock)
    val tOld = Now - 12L * 61440L
    mem.addData(("m", tOld - 60, 1.0, 0L))
    drain(StreamingIngest.start(
      stream, store, Files.createTempDirectory("ckpt-vac1").toString,
      () => tOld))
    assert(store.levelData(0).count() == 1)

    // session 2, far later with vacuumEvery=1: the fresh batch lands and
    // the sweep after it drops the long-expired bucket directory
    mem.addData(("m", Now - 60, 2.0, 1L))
    drain(StreamingIngest.start(
      stream, store, Files.createTempDirectory("ckpt-vac2").toString,
      () => Now, vacuumEvery = 1))

    val left = store.levelData(0).select("interval", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(left == Seq((Now - 60) -> 2.0),
      s"expired bucket not swept by vacuumEvery: $left")
  }

  test("cascade backfill + streamed live tail equals the full cascade") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 50000), ArchiveInfo(300, 20000), ArchiveInfo(1800, 5000)),
      xff = 0.5f)
    val t0 = Now - 86400L // 1800-aligned (Now % 1800 == 0)
    def waveRows(w: Int): Seq[(String, Long, Double, Long)] =
      for { m <- Seq("a", "b"); s <- 0 until 5 } yield {
        val t = t0 + w * 300L + s * 60L
        (m, t, (w * 5 + s).toDouble + (if (m == "a") 0 else 100), t)
      }
    def mkStore(tag: String) = {
      val st = new MetricStore(
        spark, Files.createTempDirectory(tag).toString, numBuckets = 4)
      st.createAll(Seq("a", "b"), policy)
      st
    }

    // reference: the full history through one cascade
    val ref = mkStore("ms-mixed-ref")
    ref.updateMany(
      (0 until 20).flatMap(waveRows).toDF("metric", "ts", "value", "seq"), Now)

    // mixed: backfill waves 0..11 by batch cascade, then the live tail,
    // waves 12..19, through the stream's per-batch cascade
    val mixed = mkStore("ms-mixed")
    mixed.updateMany(
      (0 until 12).flatMap(waveRows).toDF("metric", "ts", "value", "seq"), Now)
    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")
    mem.addData((12 until 20).flatMap(waveRows): _*)
    drain(StreamingIngest.start(
      stream, mixed, Files.createTempDirectory("ckpt-mixed").toString, () => Now))

    (0 until 3).foreach { i =>
      val cols = if (i == 0) Seq("metric", "interval", "value")
                 else Seq("metric", "interval", "value", "known")
      val a = ref.levelData(i).select(cols.head, cols.tail: _*)
      val b = mixed.levelData(i)
        .select(cols.map(c => col(c).as(s"b_$c")): _*)
      val joined = a.join(b,
        col("metric") === col("b_metric") && col("interval") === col("b_interval"),
        "full_outer")
      val bad = joined.where(
        col("value").isNull || col("b_value").isNull ||
          abs(col("value") - col("b_value")) > lit(1e-9) ||
          (if (i == 0) lit(false) else col("known") =!= col("b_known"))).count()
      assert(bad == 0, s"level $i diverged between mixed and cascade: $bad rows")
    }
  }

  test("streamed LWW keys on seq: a contested slot has one winner on every level") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 50000), ArchiveInfo(300, 20000)), xff = 0f)
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-seq-lww").toString, numBuckets = 4)
    store.createAll(Seq("m"), policy)
    val t0 = Now - 86400L
    // the same slot written twice in ONE batch with seq order REVERSED
    // from arrival: seq 9 (value 99) arrives BEFORE seq 1 (value 11).
    // `seq` encodes update_many's LIST position, and the reference keeps
    // the FIRST-listed point on exact-ts ties (ring write order after the
    // full-list reverse, whisper.py:748,770,806-808; pinned by
    // tools/DiffFuzz) — so the min-seq point (11) wins, while iterator-
    // arrival LWW would have kept 99.
    val rows = Seq(
      ("m", t0, 99.0, 9L),
      ("m", t0, 11.0, 1L),
      ("m", t0 + 60L, 2.0, 2L),
      ("m", t0 + 120L, 3.0, 3L))
    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")
    mem.addData(rows: _*)
    drain(StreamingIngest.start(
      stream, store, Files.createTempDirectory("ckpt-seq-lww").toString, () => Now))

    val l0 = store.levelData(0).select("interval", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(l0(t0) == 11.0, s"level 0 kept the wrong duplicate: ${l0(t0)}")
    val l1 = store.levelData(1).select("interval", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // avg(11, 2, 3) — the cascaded level agrees with level 0's winner
    assert(math.abs(l1(t0) - (11.0 + 2.0 + 3.0) / 3.0) < 1e-9,
      s"cascaded level disagrees with level-0 LWW: ${l1(t0)}")
  }

  test("dedupStream: streaming exact dedup with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val stream = mem.toDF().toDF("doc_id", "tsec", "text")
      .selectExpr("doc_id", "timestamp_seconds(tsec) AS ts", "text")
    val deduped = StreamingIngest.dedupStream(stream, maxLatenessSec = 3600)
    val q = deduped.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    mem.addData(
      (1L, 1000L, "Hello, World!"),
      (2L, 1010L, "hello world"), // canonical duplicate of doc 1
      (3L, 1020L, "something else"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.size == 2 && ids.contains(3L) &&
      (ids.contains(1L) ^ ids.contains(2L))) // one survivor per content
  }

  test("rollupStream: watermarked tumbling windows with xff gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val stream = mem.toDF().toDF("metric", "tsec", "value")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value")

    val rolled = StreamingIngest.rollupStream(
      stream, sourceStep = 60, step = 300,
      method = AggregationMethod.Sum, xff = 0.5f, maxLatenessSec = 3600)

    val qname = "rollup_test"
    val q = rolled.writeStream
      .format("memory").queryName(qname).outputMode("update").start()
    // window [600, 900): 3 of 5 slots → passes 0.5; window [900, 1200): 1 slot → gated
    mem.addData(("m", 600L, 1.0), ("m", 660L, 2.0), ("m", 720L, 3.0), ("m", 900L, 9.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table(qname).collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Long]("interval"), r.getAs[Double]("value")))
    assert(rows.contains(("m", 600L, 6.0)))
    assert(!rows.exists(_._2 == 900L))
  }

  test("rollupStateful: per-batch refinement, then watermark-finalized emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val stream = mem.toDF().toDF("metric", "tsec", "value")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value")

    val rolled = StreamingIngest.rollupStateful(
      stream, sourceStep = 60, step = 300,
      method = AggregationMethod.Average, xff = 0.5f, maxLatenessSec = 60)

    val qname = "rollup_stateful"
    val q = rolled.toDF().writeStream
      .format("memory").queryName(qname).outputMode("update").start()
    def rows() = spark.table(qname).collect()
      .map(r => (r.getAs[Long]("interval"), r.getAs[Double]("value"),
        r.getAs[Int]("known"), r.getAs[Boolean]("finalized")))

    // batch 1: 3 of 5 slots for window [600,900) → provisional avg(1,2,3)=2
    mem.addData(("m", 600L, 1.0), ("m", 660L, 2.0), ("m", 720L, 3.0))
    q.processAllAvailable()
    assert(rows().contains((600L, 2.0, 3, false)))

    // batch 2: 4th slot arrives → REFINED provisional avg(1,2,3,4)=2.5
    mem.addData(("m", 780L, 4.0))
    q.processAllAvailable()
    assert(rows().contains((600L, 2.5, 4, false)))

    // batch 3: event time advances past window end + lateness → watermark
    // moves, timeout fires, final value emitted and state dropped
    mem.addData(("m", 1500L, 9.0))
    q.processAllAvailable()
    // one more batch so the new watermark is applied to the state store
    mem.addData(("m", 1560L, 9.0))
    q.processAllAvailable()
    q.stop()
    assert(rows().contains((600L, 2.5, 4, true)))
    // window [1500,1800) holds 2 of 5 slots → 0.4 < xff, never emitted
    assert(!rows().exists(_._1 == 1500L))
  }

  test("ingest restart from checkpoint: committed batches not reprocessed, store converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-ckpt").toString, numBuckets = 4)
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f)
    store.create("m", policy)
    val ckpt = Files.createTempDirectory("ckpt-resume").toString // SHARED

    val mem = MemoryStream[(String, Long, Double, Long)]
    def stream = mem.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")

    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    val now = () => { commits.incrementAndGet(); Now }

    val base = Now - 3000
    val w0 = base - base % 300
    val run1 = (0 until 3).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    val run2 = (3 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))

    // run 1, then "crash" (AvailableNow drains and stops — the checkpoint
    // holds the committed offset)
    mem.addData(run1: _*)
    drain(StreamingIngest.start(stream, store, ckpt, now))
    assert(commits.get == 1)

    // restart against the SAME checkpoint with new data: exactly one new
    // micro-batch runs — run 1's committed batch is not replayed
    mem.addData(run2: _*)
    drain(StreamingIngest.start(stream, store, ckpt, now))
    assert(commits.get == 2, s"restart replayed committed batches: ${commits.get}")

    // the two-run store equals a one-shot ingest of all points
    val oracle = new MetricStore(
      spark, Files.createTempDirectory("ms-ckpt-oracle").toString, numBuckets = 4)
    oracle.create("m", policy)
    oracle.updateMany((run1 ++ run2).toDF("metric", "ts", "value", "seq"), Now)
    for (lvl <- 0 to 1) {
      def dump(s: MetricStore) = s.levelData(lvl).collect()
        .map(r => (r.getAs[String]("metric"), r.getAs[Long]("interval"),
          r.getAs[Double]("value"))).toSet
      assert(dump(store) == dump(oracle), s"level $lvl diverged after restart")
    }

    // three levels with an xff gate, after a batch backfill: run A feeds
    // HALF of the 1800s window [t0+1800, t0+3600) and stops, run B
    // completes it against the same checkpoint — the window is gated and
    // consolidated over both runs' slots, as in one cascade
    val policy3 = RetentionPolicy(
      Seq(ArchiveInfo(60, 50000), ArchiveInfo(300, 20000), ArchiveInfo(1800, 5000)),
      xff = 0.5f)
    val t0 = Now - 86400L // 1800-aligned
    def waveRows(w: Int): Seq[(String, Long, Double, Long)] =
      for { m <- Seq("a", "b"); s <- 0 until 5 } yield {
        val t = t0 + w * 300L + s * 60L
        (m, t, (w * 5 + s).toDouble + (if (m == "a") 0 else 100), t)
      }
    def store3(tag: String) = {
      val st = new MetricStore(
        spark, Files.createTempDirectory(tag).toString, numBuckets = 4)
      st.createAll(Seq("a", "b"), policy3)
      st
    }
    val split = store3("ms-split-restart")
    split.updateMany(
      (0 until 6).flatMap(waveRows).toDF("metric", "ts", "value", "seq"), Now)
    val ckpt3 = Files.createTempDirectory("ckpt-split-restart").toString // SHARED
    val mem3 = MemoryStream[(String, Long, Double, Long)]
    def stream3 = mem3.toDF().toDF("metric", "tsec", "value", "seq")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value", "seq")
    mem3.addData((6 until 9).flatMap(waveRows): _*)
    drain(StreamingIngest.start(stream3, split, ckpt3, () => Now))
    mem3.addData((9 until 12).flatMap(waveRows): _*)
    drain(StreamingIngest.start(stream3, split, ckpt3, () => Now))

    val ref3 = store3("ms-split-restart-ref")
    ref3.updateMany(
      (0 until 12).flatMap(waveRows).toDF("metric", "ts", "value", "seq"), Now)
    (0 until 3).foreach { i =>
      def dump(s: MetricStore) = s.levelData(i)
        .select("metric", "interval", "value").collect()
        .map(r => (r.getString(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
      assert(dump(split) == dump(ref3), s"level $i diverged after a split-window restart")
    }
  }

  test("stateful rollup soak: state rows bounded by open windows, not stream length") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val stream = mem.toDF().toDF("metric", "tsec", "value")
      .selectExpr("metric", "timestamp_seconds(tsec) AS ts", "value")

    val rolled = StreamingIngest.rollupStateful(
      stream, sourceStep = 60, step = 300,
      method = AggregationMethod.Average, xff = 0f, maxLatenessSec = 600)
    // default micro-batch trigger (not AvailableNow): a sustained-rate
    // soak across many triggers, the ROADMAP state-growth question
    val q = rolled.toDF().writeStream
      .format("memory").queryName("rollup_soak").outputMode("update").start()

    val windowsPerBatch = 10
    val batches = 10
    var maxState = 0L
    (0 until batches).foreach { b =>
      val t0 = (b * windowsPerBatch) * 300L
      val rows = for {
        w <- 0 until windowsPerBatch
        s <- 0 until 5
        m <- Seq("m0", "m1")
      } yield (m, t0 + w * 300L + s * 60L, s.toDouble)
      mem.addData(rows: _*)
      q.processAllAvailable()
      val prog = q.lastProgress
      if (prog != null && prog.stateOperators.nonEmpty)
        maxState = math.max(maxState, prog.stateOperators.map(_.numRowsTotal).sum)
    }
    q.stop()

    val totalWindows = windowsPerBatch * batches * 2 // 200 across the run
    assert(maxState > 0, "no state metrics reported")
    // live state ≤ one batch's windows + the ≤600s-late tail awaiting
    // timeout — NOT the 200 windows the stream has seen
    assert(maxState <= 3L * windowsPerBatch * 2,
      s"state grew with stream length: $maxState rows vs $totalWindows windows seen")
    // every window eventually emitted (xff=0 → all pass the gate)
    val emitted = spark.table("rollup_soak")
      .select("metric", "interval").distinct().count()
    assert(emitted == totalWindows)
  }
}
