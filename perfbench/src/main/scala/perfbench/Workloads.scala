package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.model.{AggregationMethod, Retention, RetentionPolicy}
import graft.ops.{Fetch, Ingest}
import graft.store.MetricStore
import graft.streaming.StreamingCorpusPipeline

import Harness.{median, seconds}

/** One benchmark workload. `run` sets up (several times), warms up, runs the
  * closed loop for the harness's seconds, checks outputs and fills the
  * harness's metrics.
  */
trait Workload {
  def run(h: Harness): Unit
}

object Workload {
  val all: Map[String, Workload] = Map("dashboard" -> DashboardWorkload, "corpus" -> CorpusWorkload)

  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3

  val MinOps = 2

  /** Closed loop with one client: `step(i)` runs operation i and returns
    * its seconds (NaN when it failed); runs until `seconds` have passed and
    * at least `MinOps` operations have completed, so a slow first operation
    * does not leave a run with a single sample, and only stops after a
    * whole `cycle` of operations. Returns (samples, wall seconds).
    */
  def loop(h: Harness, cycle: Int = 1)(step: Int => Double): (Seq[Double], Double) = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < MinOps || i % cycle != 0 || elapsed < h.seconds) {
      out += step(i)
      if (i == 0) h.hash.mark()
      i += 1
    }
    (out.toSeq, elapsed)
  }

  /** Interleave traced and untraced operations in a traced run: even
    * rounds traced, odd rounds not. Returns whether round `i` is traced.
    */
  def traceRound(h: Harness, i: Int): Boolean = h.tracer match {
    case Some(t) => val on = i % 2 == 0; t.setAttached(on); on
    case None    => false
  }

  /** The end-to-end metrics every workload reports, from its own loop;
    * `opMs` is the workload's typical operation time. The tail goes to the
    * record only: a run has too few operations (2 to 40) for a tail
    * percentile that repeats across runs.
    */
  def report(h: Harness, setups: Seq[Double], opMs: Double, samples: Seq[Double], items: Double,
             wall: Double, bytesPerItem: Double): Unit = {
    val (tailV, tailP, n) = Harness.tail(samples)
    h.endToEnd("setup_s") = median(setups)
    h.endToEnd("op_p50_ms") = opMs
    h.endToEnd("items_per_s") = items / wall
    h.endToEnd("bytes_per_item") = bytesPerItem
    h.record("setup_samples_s") = setups
    h.record("op_samples") = n
    h.record("op_values_ms") = samples.map(_ * 1000)
    h.record("op_tail_ms") = tailV * 1000
    h.record("op_tail_percentile") = tailP
    h.record("items") = items
    h.record("measured_wall_s") = wall
  }

  /** trace.overhead: median traced round over median untraced round. */
  def overhead(h: Harness, rounds: Seq[(Boolean, Double)]): Unit = {
    val on = rounds.collect { case (true, s) => s }
    val off = rounds.collect { case (false, s) => s }
    if (h.traced && on.nonEmpty && off.nonEmpty)
      h.perLayer("trace.overhead") = median(on) / median(off)
  }
}

/** What `Ingest.routeAndDedup` does with one batch. */
final case class RouteProbe(seconds: Double, lwwCollisions: Long, droppedExpired: Long, directCoarse: Long)

/** `dashboard`: a store built in time order (rollups derived from level 0,
  * so substitution applies) serves a closed-loop read mix: single-metric
  * `fetch` over 1h, 6h, 1d and 7d, a 20-metric one-day `fetchFrame`, and
  * the xff-gated five-minute average over `g_level_0` through `spark.sql`,
  * which RollupSubstitution must answer from level 1. Metrics are drawn
  * Zipf-skewed. Every `ReadsPerTrickle` reads, a one-minute trickle writes
  * every metric and advances `now`, adding files the next reads open.
  *
  * Only the ranges are tied to a source (the CLI's default one-day fetch
  * window, `WhisperCli.scala`, and common dashboard time pickers); the
  * metric count, Zipf exponent, kind rotation, frame width and reads per
  * trickle are assumptions sized to the run budget (see the README).
  */
object DashboardWorkload extends Workload {
  val Metrics = 200
  /** 26 h: longer than the 1d fetch and a 1024-slot level-0 time bucket,
    * and inside level 0's 2 d retention, so every rollup stays derived.
    */
  val HistorySecs = 26 * 3600L
  val T0: Long = 1700000000L - 1700000000L % 3600
  val ReadsPerTrickle = 12
  /** Timed set-ups per run, after an untimed warm one: a store build is
    * 10-13 s of the run's budget.
    */
  val DashboardSetupReps = 2
  val FrameMetrics = 20
  val SqlRangeSecs = 6 * 3600L
  private val kinds = Seq("fetch.1h", "fetch.6h", "fetch.1d", "fetch.7d", "fetchFrame", "sql")
  private val ranges = Map("fetch.1h" -> 3600L, "fetch.6h" -> 6 * 3600L,
    "fetch.1d" -> 86400L, "fetch.7d" -> 7 * 86400L)

  /** The gated window aggregate, spelled the way a SQL user restates the
    * store's xff gate (the w23 shape), over an aligned half-open range.
    */
  def sql(lo: Long, hi: Long): String =
    s"""SELECT metric, interval, value FROM (
       |  SELECT metric, interval - interval % 300 AS interval, avg(value) AS value,
       |         count(value) AS known
       |  FROM g_level_0 WHERE interval >= $lo AND interval < $hi
       |  GROUP BY 1, 2)
       |WHERE known > 0 AND CAST(known AS DOUBLE) / 5.0D >= 0.5D""".stripMargin

  private def sqlRange(now: Long): (Long, Long) = {
    val hi = now - now % 300
    (hi - SqlRangeSecs, hi)
  }

  /** True when every file the query reads lies in a level >= 1 table. */
  private def substituted(df: org.apache.spark.sql.DataFrame): Boolean = {
    val files = df.inputFiles
    files.nonEmpty && files.forall(f => !f.contains("/level_0/"))
  }

  /** The paper's multi-level retention: 60s:2d, 5m:14d, 1h:90d, 1d:2y,
    * average consolidation, xFilesFactor 0.5.
    */
  val Policy: RetentionPolicy = RetentionPolicy(
    Retention.parseSchema("60s:2d,5m:14d,1h:90d,1d:2y"), 0.5f, AggregationMethod.Average)

  /** Compare `fetch` on every level against the reference for `metric`. */
  private def checkFetches(h: Harness, store: MetricStore, ref: Reference, metric: String, now: Long): Unit = {
    val want = ref.series(metric)
    Policy.levels.zipWithIndex.foreach { case (lvl, i) =>
      val step = lvl.secondsPerPoint
      val got = store.fetch(metric, now - lvl.retention + step, now, now, Some(step))
      got match {
        case None => h.check(false, s"fetch $metric level $i returned nothing")
        case Some(r) =>
          val bad = r.values.indices.filter { k =>
            val t = r.fromInterval + k * r.step
            (r.values(k), want(i).get(t)) match {
              case (Some(a), Some(b)) => !Reference.same(a, b)
              case (None, None)       => false
              case _                  => true
            }
          }
          val outside = want(i).keys.count(t => t < r.fromInterval || t >= r.untilInterval)
          h.check(bad.isEmpty && outside == 0,
            s"fetch $metric level $i: ${bad.size} slots differ (first at " +
              s"${bad.headOption.map(k => r.fromInterval + k * r.step)}), $outside reference rows outside the grid")
      }
    }
  }

  /** Store layout after the run: files, files per (pb, tb) directory, rows
    * per level; returns (parquet bytes, live rows).
    */
  private def storeLayout(h: Harness, store: MetricStore, root: String): (Long, Long) = {
    val files = Harness.parquetFiles(root)
    val dirs = files.map(_.getParent).distinct.size
    val rows = Policy.levels.indices.map(i => store.levelData(i).count())
    rows.zipWithIndex.foreach { case (n, i) => h.perLayer(s"store.level_rows.$i") = n.toDouble }
    h.perLayer("store.parquet_files") = files.size.toDouble
    h.perLayer("store.files_per_partition") = if (dirs == 0) 0.0 else files.size.toDouble / dirs
    (Harness.bytesOf(files), rows.sum)
  }

  /** Time a standalone `routeAndDedup(...).count()` on a batch already
    * written, then count what it collapsed (same-slot rewrites), dropped
    * (older than every level) and routed past level 0.
    */
  private def routeProbe(h: Harness, df: org.apache.spark.sql.DataFrame, points: Int, now: Long): RouteProbe = {
    val route = Ingest.routeAndDedup(df, Policy, now)
    val (_, secs) = seconds(h.span("routeAndDedup")(route.count()))
    val (byLevel, routed) = h.span("probe") {
      (route.groupBy("level").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap,
        df.where(Ingest.levelFor(lit(now) - col("ts"), Policy).isNotNull).count())
    }
    RouteProbe(secs, routed - byLevel.values.sum, points - routed, byLevel.filter(_._1 > 0).values.sum)
  }

  private def routeLayer(h: Harness, probes: Seq[RouteProbe]): Unit = if (probes.nonEmpty) {
    h.perLayer("routeAndDedup.s") = median(probes.map(_.seconds))
    h.perLayer("routeAndDedup.lww_collisions") = median(probes.map(_.lwwCollisions.toDouble))
    h.perLayer("routeAndDedup.dropped_expired") = median(probes.map(_.droppedExpired.toDouble))
    h.perLayer("routeAndDedup.direct_coarse") = median(probes.map(_.directCoarse.toDouble))
  }

  /** Per-layer figures of the updateMany spans (per call medians). */
  private def updateManyLayer(h: Harness, spans: Seq[SpanStats], pointsPerCall: Seq[Int]): Unit =
    if (spans.nonEmpty) {
      val pts = median(pointsPerCall.map(_.toDouble))
      h.perLayer("updateMany.s") = median(spans.map(_.wallS))
      h.perLayer("updateMany.jobs") = median(spans.map(_.jobs.toDouble))
      h.perLayer("updateMany.write_jobs") = median(spans.map(_.writeJobs.toDouble))
      h.perLayer("updateMany.tasks") = median(spans.map(_.tasks.toDouble))
      h.perLayer("updateMany.driver_gap_s") = median(spans.map(_.gapS))
      h.perLayer("updateMany.busy_ratio") = median(spans.map(s => s.busyS / (s.wallS * h.cores)))
      h.perLayer("updateMany.bytes_written_per_point") = median(spans.map(_.outputBytes / pts))
      h.perLayer("updateMany.bytes_read_per_point") = median(spans.map(_.inputBytes / pts))
      h.perLayer("updateMany.shuffle_bytes") = median(spans.map(_.shuffleBytes.toDouble))
      h.perLayer("updateMany.spill_bytes") = median(spans.map(_.spillBytes.toDouble))
    }

  def run(h: Harness): Unit = {
    import Workload._
    val metrics = SeriesGen.metricNames(Metrics)
    val gen = new SeriesGen(h.seed, metrics, h.hash)
    val now0 = T0 + HistorySecs
    val history = gen.batch(T0, now0)
    val historyDf = h.points(history)
    var store: MetricStore = null
    var root = ""
    val ingestS = mutable.ArrayBuffer.empty[Double]
    def setup(name: String, df: org.apache.spark.sql.DataFrame, now: Long): Double = {
      root = h.dir(name)
      val (_, secs) = seconds {
        store = new MetricStore(h.spark, root)
        store.createAll(metrics, Policy)
        ingestS += seconds(store.updateMany(df, now))._2
        graft.Engine.install(h.spark, store, "g")
      }
      secs
    }
    val ref = new Reference(Policy, _ => true)
    ref.add(history, now0)
    var now = now0

    val rnd = new scala.util.Random(h.seed)
    val zipf = new Zipf(Metrics, 1.1, rnd)
    val samplesByKind = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val planUs = mutable.ArrayBuffer.empty[Double]
    val slotsOf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val subst = mutable.ArrayBuffer.empty[Boolean]
    val tricklePoints = mutable.ArrayBuffer.empty[Int]
    val probes = mutable.ArrayBuffer.empty[RouteProbe]
    val trickleS = mutable.ArrayBuffer.empty[Double]

    def read(kind: String, traced: Boolean): Double = {
      val s = kind match {
        case k if k.startsWith("fetch.") =>
          val m = metrics(zipf.next())
          val from = now - ranges(k)
          if (traced) {
            val reps = 1000
            val (_, secs) = seconds((0 until reps).foreach(_ => Fetch.planFetch(Policy, from, now, now)))
            planUs += secs * 1e6 / reps
          }
          h.op {
            val r = h.span(k)(store.fetch(m, from, now, now))
            if (traced) slotsOf.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += r.map(_.values.size).getOrElse(0)
          }
        case "fetchFrame" =>
          val ms = Iterator.continually(metrics(zipf.next())).distinct.take(FrameMetrics).toSeq
          h.op {
            val n = h.span("fetchFrame")(store.fetchFrame(ms, now - 86400, now, now).map(_.collect().length).getOrElse(0))
            if (traced) slotsOf.getOrElseUpdate("fetchFrame", mutable.ArrayBuffer.empty) += n
          }
        case "sql" =>
          val (lo, hi) = sqlRange(now)
          h.op {
            val q = h.spark.sql(sql(lo, hi))
            if (traced) {
              h.span("sql.plan")(q.queryExecution.executedPlan)
              subst += substituted(q)
              h.span("sql.exec")(q.collect())
            } else q.collect()
          }
      }
      samplesByKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
      s
    }

    def trickle(traced: Boolean): Double = {
      val n = now + 60
      val pts = gen.batch(now, n)
      ref.add(pts, n)
      val df = h.points(pts)
      val s = h.op {
        h.span("updateMany")(store.updateMany(df, n))
        store.registerViews("g")
      }
      now = n
      if (traced) {
        tricklePoints += pts.size
        probes += routeProbe(h, df, pts.size, n)
      }
      trickleS += s
      s
    }

    // an untimed build of the first hour first: the first store build runs
    // about twice as slow as later ones while the JIT compiles the write path
    setup("dashboard-store-warm", h.points(history.filter(_.ts < T0 + 3600)), T0 + 3600)
    ingestS.clear()
    h.phase("warmup_setup")
    val setups = (0 until DashboardSetupReps).map(r => setup(s"dashboard-store-$r", historyDf, now0))
    h.phase("setup")
    // warm-up: one read of each kind, and one trickle, since the first
    // trickle on a bulk-written store also runs about twice as slow
    kinds.foreach(k => read(k, traced = false))
    trickle(traced = false)
    samplesByKind.clear(); trickleS.clear()
    h.phase("warmup")

    var reads = 0L
    var cycleTraced = traceRound(h, 0)
    var cycle = 0
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var cycleS = 0.0
    val (samples, wall) = loop(h, ReadsPerTrickle + 1) { i =>
      val k = i % (ReadsPerTrickle + 1)
      if (k < ReadsPerTrickle) {
        val s = read(kinds(k % kinds.size), cycleTraced)
        reads += 1
        cycleS += s
        s
      } else {
        cycleS += trickle(cycleTraced)
        rounds += ((cycleTraced, cycleS))
        cycleS = 0.0
        cycle += 1
        cycleTraced = traceRound(h, cycle)
        Double.NaN
      }
    }
    h.phase("loop")
    h.tracer.foreach(_.setAttached(false))
    val readSamples = samples.filterNot(_.isNaN)
    h.record("reads") = reads
    h.record("trickles") = trickleS.size
    h.record("trickle_write_p50_s") = median(trickleS.toSeq)
    val kindMs = kinds.map(k => median(samplesByKind.getOrElse(k, Nil).toSeq) * 1000) :+
      median(trickleS.toSeq) * 1000
    kinds.zip(kindMs).foreach { case (k, ms) => h.record(s"${k}_p50_ms") = ms }

    val (bytes, rows) = storeLayout(h, store, root)
    // every kind, the trickle included, moves the typical operation time:
    // the geometric mean of the per-kind medians
    val opMs = math.exp(kindMs.map(math.log).sum / kindMs.size)
    report(h, setups, opMs, readSamples, reads.toDouble, wall, bytes.toDouble / rows)
    h.perLayer("setup.store_ingest_s") = median(ingestS.toSeq)

    // output checks: fetch on every level for a seeded sample, and the SQL
    // aggregate against the reference level-1 rows
    Iterator.continually(metrics(zipf.next())).distinct.take(2).foreach(m => checkFetches(h, store, ref, m, now))
    val (lo, hi) = sqlRange(now)
    val q = h.spark.sql(sql(lo, hi))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = metrics.flatMap { m =>
      ref.series(m)(1).collect { case (t, v) if t >= lo && t < hi => (m, t) -> v }
    }.toMap
    val diff = want.count { case (k, v) => !got.get(k).exists(Reference.same(_, v)) } +
      got.keys.count(k => !want.contains(k))
    h.check(diff == 0 && got.size == want.size, s"sql rollup: $diff of ${want.size} rows differ")
    h.record("sql_substituted") = substituted(q)
    h.phase("checks")

    h.tracer.foreach { t =>
      val st = t.stats()
      updateManyLayer(h, st.filter(_.name == "updateMany"), tricklePoints.toSeq)
      routeLayer(h, probes.toSeq)
      val fetches = st.filter(_.name.startsWith("fetch."))
      val fetchSlots = kinds.filter(_.startsWith("fetch.")).flatMap(k => slotsOf.getOrElse(k, Nil))
      h.perLayer("planFetch.us") = median(planUs.toSeq)
      h.perLayer("fetch.jobs") = median(fetches.map(_.jobs.toDouble))
      h.perLayer("fetch.tasks") = median(fetches.map(_.tasks.toDouble))
      h.perLayer("fetch.driver_gap_ms") = median(fetches.map(_.gapS * 1000))
      h.perLayer("fetch.input_bytes") = median(fetches.map(_.inputBytes.toDouble))
      h.perLayer("fetch.records_per_slot") =
        fetches.map(_.inputRecords).sum.toDouble / math.max(1, fetchSlots.sum)
      ranges.keys.foreach { k =>
        h.perLayer(s"fetch.p50_ms.${k.stripPrefix("fetch.")}") = median(st.filter(_.name == k).map(_.wallS * 1000))
      }
      val frames = st.filter(_.name == "fetchFrame")
      h.perLayer("fetchFrame.jobs") = median(frames.map(_.jobs.toDouble))
      h.perLayer("fetchFrame.records_per_slot") =
        frames.map(_.inputRecords).sum.toDouble / math.max(1, slotsOf.getOrElse("fetchFrame", Nil).sum)
      h.perLayer("fetchFrame.p50_ms") = median(frames.map(_.wallS * 1000))
      val plans = st.filter(_.name == "sql.plan")
      val execs = st.filter(_.name == "sql.exec")
      h.perLayer("sql.plan_ms") = median(plans.map(_.wallS * 1000))
      h.perLayer("sql.exec_ms") = median(execs.map(_.wallS * 1000))
      h.perLayer("sql.input_bytes") = median(execs.map(_.inputBytes.toDouble))
      h.perLayer("sql.substituted_ratio") =
        if (subst.isEmpty) 0.0 else subst.count(identity).toDouble / subst.size
      overhead(h, rounds.toSeq)
    }
  }
}

/** `corpus`: the fingerprint, MinHash and winnow indexes are built over
  * 80% of a seeded corpus; the run delivers the rest in fixed-size
  * `processBatch` deliveries through the gauntlet (quality gate, exact,
  * near, winnow), each carrying planted exact copies and appended-word
  * near copies. No store or fetch work: prices the `streaming` and `ext`
  * layers.
  */
object CorpusWorkload extends Workload {
  val BaseDocs = 500
  val DeliveryDocs = 40
  val WarmupDeliveries = 1

  val Config: StreamingCorpusPipeline.Config = StreamingCorpusPipeline.Config(
    tau = 0.5,
    quality = b => b.select(col("doc_id"), when(length(col("text")) >= 100, 1).otherwise(0).as("keep")))

  private val indexes = Seq("FingerprintIndex", "MinHashIndex", "WinnowIndex")
  private val files = Seq("StreamingCorpusPipeline", "FingerprintIndex", "MinHashIndex",
    "WinnowIndex", "Dedup", "TextAnalysis", "SegmentedTable")
  val VerdictClasses = Seq("kept", "drop_quality", "dup_exact", "dup_exact_batch",
    "dup_index", "dup_batch", "dup_winnow", "dup_winnow_batch")

  def run(h: Harness): Unit = {
    import Workload._
    import h.spark.implicits._
    val gen = new DocGen(h.seed, h.hash)
    val base = IndexedSeq.fill(BaseDocs)(gen.fresh())
    // the delivered 20%, generated up front so the corpus is one seeded draw
    val pool = mutable.Queue.from(IndexedSeq.fill(BaseDocs / 4)(gen.fresh()))
    val baseDf = base.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val fp = h.dir("corpus-fp"); val mh = h.dir("corpus-mh"); val win = h.dir("corpus-win")
    val verdicts = h.dir("corpus-verdicts")
    val buildS = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val setups = (0 until SetupReps).map { _ =>
      seconds {
        def timed(name: String)(body: => Unit): Unit =
          buildS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds(body)._2
        timed("FingerprintIndex")(graft.ext.FingerprintIndex.build(baseDf, fp))
        timed("MinHashIndex")(graft.ext.MinHashIndex.build(baseDf, mh, n = 3, k = 128, bands = 64))
        timed("WinnowIndex")(graft.ext.WinnowIndex.build(baseDf, win))
      }._2
    }

    h.phase("setup")
    val delivered = mutable.ArrayBuffer.empty[(Long, Seq[Doc])]
    val earlier = mutable.ArrayBuffer.empty[Doc]
    def delivery(b: Long): Seq[Doc] = {
      val fresh = Seq.fill(DeliveryDocs)(if (pool.nonEmpty) pool.dequeue() else gen.fresh())
      val Seq(e1, e2, n1, n2) = gen.pickDistinct(base, 4)
      val planted = Seq(gen.exactClone(e1, "dup_exact"), gen.exactClone(e2, "dup_exact"),
        gen.nearClone(n1), gen.nearClone(n2), gen.exactClone(fresh.head, "dup_exact_batch")) ++
        earlier.headOption.map(_ => gen.exactClone(gen.pick(earlier.toIndexedSeq), "dup_exact")).toSeq
      earlier ++= fresh
      fresh ++ planted :+ gen.short()
    }
    var batchId = 0L
    def deliver(traced: Boolean): (Double, Int) = {
      val docs = delivery(batchId)
      val df = docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      val id = batchId
      val s = h.op(h.span("processBatch")(StreamingCorpusPipeline.processBatch(
        df, id, fp, mh, None, verdicts, Config, winPath = Some(win))))
      delivered += ((id, docs))
      batchId += 1
      (s, docs.size)
    }

    // warm-up: the first deliveries run 1.2-1.7x slower than steady state
    // while the JIT compiles the gauntlet's paths
    h.record("warmup_values_ms") = (0 until WarmupDeliveries).map(_ => deliver(traced = false)._1 * 1000)
    h.phase("warmup")
    var docsIn = 0L
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val (samples, wall) = loop(h) { i =>
      val traced = traceRound(h, i)
      val (s, n) = deliver(traced)
      docsIn += n
      rounds += ((traced, s))
      s
    }
    h.phase("loop")
    h.tracer.foreach(_.setAttached(false))
    h.record("deliveries") = batchId

    // output check: one verdict per delivered doc, and each the one its
    // recipe calls for (no planted copy kept, no fresh document dropped)
    val v = h.spark.read.parquet(verdicts).select("doc_id", "verdict", "batch").collect()
      .map(r => (r.getAs[Number](2).longValue, r.getLong(0), r.getString(1)))
    val byBatch = v.groupBy(_._1)
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    delivered.foreach { case (b, docs) =>
      val rows = byBatch.getOrElse(b, Array.empty)
      val perDoc = rows.groupBy(_._2)
      val ids = docs.map(_.id).toSet
      val oneEach = ids.forall(i => perDoc.get(i).exists(_.length == 1)) && perDoc.keySet == ids
      h.check(oneEach, s"delivery $b: verdicts for ${perDoc.size} of ${ids.size} docs, " +
        s"${perDoc.count(_._2.length > 1)} with more than one")
      val keptPlanted = docs.filter(d => d.planted && perDoc.get(d.id).exists(_.exists(_._3 == "kept")))
      h.check(keptPlanted.isEmpty, s"delivery $b: planted copies kept: ${keptPlanted.map(_.id)}")
      val wrong = docs.filter(d => !perDoc.get(d.id).exists(_.forall(_._3 == d.expect)))
      h.check(wrong.isEmpty, s"delivery $b: ${wrong.size} unexpected verdicts, first " +
        wrong.headOption.map(d => s"${d.id} ${perDoc.get(d.id).map(_.map(_._3).mkString(","))} want ${d.expect}"))
      rows.foreach(r => counts(r._3) += 1)
    }
    val indexFiles = Seq(fp, mh, win).flatMap(Harness.parquetFiles)
    val indexedDocs = BaseDocs + counts("kept")
    val bytesPerDoc = Harness.bytesOf(indexFiles).toDouble / indexedDocs
    report(h, setups, median(samples) * 1000, samples, docsIn.toDouble, wall, bytesPerDoc)
    h.record("verdicts") = VerdictClasses.map(c => c -> counts(c)).toMap
    h.phase("checks")
    indexes.foreach(i => h.perLayer(s"setup.build_s.$i") = median(buildS(i).toSeq))
    h.perLayer("corpus.index_files") = indexFiles.size.toDouble
    h.perLayer("corpus.index_bytes_per_doc") = bytesPerDoc
    VerdictClasses.foreach(c => h.perLayer(s"corpus.verdicts.$c") = counts(c).toDouble / delivered.size)

    h.tracer.foreach { t =>
      val st = t.stats().filter(_.name == "processBatch")
      h.record("processBatch_jobs_by_file") =
        st.flatMap(_.jobsByFile).groupMapReduce(_._1)(_._2)(_ + _)
      h.perLayer("processBatch.s") = median(st.map(_.wallS))
      h.perLayer("processBatch.jobs") = median(st.map(_.jobs.toDouble))
      h.perLayer("processBatch.stages") = median(st.map(_.stages.toDouble))
      h.perLayer("processBatch.tasks") = median(st.map(_.tasks.toDouble))
      h.perLayer("processBatch.driver_gap_s") = median(st.map(_.gapS))
      h.perLayer("processBatch.busy_ratio") = median(st.map(s => s.busyS / (s.wallS * h.cores)))
      h.perLayer("processBatch.shuffle_bytes") = median(st.map(_.shuffleBytes.toDouble))
      files.foreach { f =>
        h.perLayer(s"processBatch.jobs.$f") = median(st.map(_.jobsByFile.getOrElse(f, 0).toDouble))
        h.perLayer(s"processBatch.busy_s.$f") = median(st.map(_.busyByFile.getOrElse(f, 0.0)))
      }
      overhead(h, rounds.toSeq)
    }
  }
}
