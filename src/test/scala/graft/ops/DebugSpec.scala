package graft.ops

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ext.Dedup
import graft.model.{ArchiveInfo, RetentionPolicy}
import graft.queries.Memo
import graft.store.MetricStore

/** The one instrumentation module: self-time ledgers, the stage flag's
  * time/force contract, and the listener's job counters.
  */
class DebugSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def withStages[T](body: => T): (T, Map[String, Double]) = {
    val (out, stages) = Debug.recordStages(body)
    (out, stages.toMap)
  }

  /** Job starts seen by a test-local listener while `body` runs — every
    * job, and the tagged store writes among them — plus the sentinel job
    * that drains the bus: listener events arrive in submission order, so
    * once the sentinel's start is seen every earlier start has been too.
    */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val writes = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val p = Option(e.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .exists(_.startsWith("graft.store.write"))) writes.incrementAndGet()
        if (p.exists(_.getProperty("spark.jobGroup.id") == sentinel)) drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS))
      (jobs.get, writes.get)
    } finally sc.removeSparkListener(listener)
  }

  test("nested time blocks charge self time: labels sum to the outer wall") {
    val (wall, m) = withStages {
      val t0 = System.nanoTime()
      Debug.time("a") {
        Thread.sleep(30)
        Debug.time("b")(Thread.sleep(40))
        Debug.time("a")(Thread.sleep(20))
        Thread.sleep(10)
      }
      secs(t0)
    }
    assert(m.keySet == Set("a", "b"))
    assert(m("b") >= 0.04 && m("a") >= 0.06, m)
    // the nested "b" is not billed to "a" too
    assert(math.abs(m.values.sum - wall) < 0.01, s"$m vs wall $wall")
  }

  test("an exactify-shaped loop (time around checkpoints + nested force) " +
    "records one label equal to its wall") {
    val ((out, wall), m) = withStages {
      val t0 = System.nanoTime()
      val out = Debug.time("exactify") {
        var df = spark.range(50).toDF("id")
        (1 to 3).foreach(_ => df = df.select((col("id") + 1).as("id")).localCheckpoint())
        Debug.force("exactify", df.where(col("id") % 2 === 0))
      }
      (out, secs(t0))
    }
    assert(m.keySet == Set("exactify"))
    assert(math.abs(m("exactify") - wall) < 0.01, s"$m vs wall $wall")
    assert(out.as[Long].collect().sorted.toSeq == (4L to 53L).filter(_ % 2 == 0))
  }

  test("exactifyRuns under the stage flag: same rows, one exactify label") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "xx the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    // a sampled candidate: 10 chars at a's position 1, b's position 4
    val runs = Seq((1L, 2L, -3L, 1L, 10L)).toDF("a", "b", "d", "sa", "ext")
    def exact(): Seq[(Long, Long, Long, Long, Long)] =
      Dedup.exactifyRuns(docs, runs, minKeep = 16, slack = 4)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val plain = exact()
    val t0 = System.nanoTime()
    val (forced, m) = withStages(exact())
    val wall = secs(t0)
    // "the quick brown fox jumps over the lazy " — 40 shared chars
    assert(plain == Seq((1L, 2L, -3L, 1L, 40L)))
    assert(forced == plain)
    assert(m.keySet == Set("exactify"))
    assert(m("exactify") <= wall && m("exactify") >= 0.5 * wall, s"$m vs wall $wall")
  }

  test("force with the flag off submits no job and returns the frame") {
    val plain = spark.range(100).toDF("id").where(col("id") > 3)
    val cached = spark.range(100).toDF("id").where(col("id") > 5).cache()
    try {
      jobsOf(()) // drain earlier tests' job events
      var outs = Seq.empty[DataFrame]
      val (jobs, _) = jobsOf {
        outs = Seq(Debug.force("p", plain), Debug.force("c", cached))
        Debug.time("t")(())
      }
      assert(jobs == 1, s"only the sentinel may run, saw $jobs jobs")
      assert(outs(0) eq plain)
      assert(outs(1) eq cached)
    } finally { cached.unpersist(blocking = true); () }
  }

  test("force with the flag on: a cached frame is counted in place, " +
    "an uncached frame comes back checkpointed") {
    val plain = spark.range(100).toDF("id").where(col("id") > 3)
    val cached = spark.range(100).toDF("id").where(col("id") > 5).cache()
    try {
      def loaded() = spark.sparkContext.getRDDStorageInfo
        .filter(_.numCachedPartitions > 0).map(_.id).toSet
      val before = loaded()
      val ((p, c), m) = withStages((Debug.force("p", plain), Debug.force("c", cached)))
      assert(m.keySet == Set("p", "c"))
      assert(c eq cached)
      assert((loaded() -- before).nonEmpty, "the forced cached frame must be materialized")
      assert(p ne plain)
      assert(p.queryExecution.logical.isInstanceOf[LogicalRDD],
        s"an uncached frame must come back checkpointed:\n${p.queryExecution.logical}")
      assert(p.as[Long].collect().sorted.toSeq == (4L until 100L))
    } finally { cached.unpersist(blocking = true); () }
  }

  test("Memo charges self time: a nested build is not billed to its parent") {
    val inner = new Memo[Int]("debugSpecInner")
    val outer = new Memo[Int]("debugSpecOuter")
    Debug.warm.clear()
    val t0 = System.nanoTime()
    // the persisted-PQ shape: the outer build calls the inner memo
    val v = outer.computeIfAbsent("k", _ => {
      Thread.sleep(30)
      inner.computeIfAbsent("k", _ => { Thread.sleep(50); 1 }) + 1
    })
    val wall = secs(t0)
    val m = Debug.warm.snapshot().toMap
    assert(v == 2)
    assert(m.keySet == Set("debugSpecInner", "debugSpecOuter"))
    assert(m("debugSpecInner") >= 0.05)
    assert(m("debugSpecOuter") >= 0.03 && m("debugSpecOuter") < 0.05, m)
    assert(math.abs(m.values.sum - wall) < 0.01, s"$m vs wall $wall")
    // a hit builds nothing and records nothing
    assert(outer.computeIfAbsent("k", _ => sys.error("rebuilt")) == 2)
    assert(Debug.warm.snapshot().toMap == m)
  }

  test("job counters match a test-local listener over a tagged store write") {
    Debug.enableDebug(spark)
    try {
      val store = new MetricStore(spark, Files.createTempDirectory("dbg").toString,
        numBuckets = 2)
      val now = 1706659200L
      store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 120), ArchiveInfo(300, 60))))
      val pts = (0 until 20).map(i => ("m", now - 1200 + i * 60L, i.toDouble, i.toLong))
        .toDF("metric", "ts", "value", "seq")
      jobsOf(()) // drain the create's events before zeroing
      Debug.reset()
      val (jobs, writes) = jobsOf(store.updateMany(pts, now))
      // Debug's listener was registered first, so it has seen the
      // sentinel's start before the local latch opens
      assert(Debug.jobs() == jobs, s"debug ${Debug.jobs()} vs local $jobs")
      assert(Debug.writeJobs() == writes)
      assert(writes > 0, "updateMany must run tagged store writes")
      assert(jobs > writes, "planning/cascade jobs are untagged")
    } finally Debug.disableDebug(spark)
    assert(Debug.jobs() == 0 && Debug.writeJobs() == 0)
  }
}
