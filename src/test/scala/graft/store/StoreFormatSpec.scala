package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._

/** On-disk format compatibility (review findings, round 5):
  *
  *   - the declared-schema read fast path must not FABRICATE count
  *     columns over a level written without them — the legacy detection
  *     (counts-approx marker, exact-count substitution gate) relies on
  *     the columns being genuinely absent;
  *   - the bucket layout (slots per tb directory) is baked into every
  *     partition path, so it is persisted per store (in the `_store`
  *     manifest) and probed for pre-marker stores — a binary with a
  *     different default must not silently mis-prune an existing store's
  *     directories;
  *   - the manifest is the store's one metadata file: stores written
  *     before it migrate once, and concurrent commits lose nothing.
  */
class StoreFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val Now = 1706659200L

  /** The manifest's persisted (bucket_slots, num_buckets). */
  private def layoutOf(root: String): (Option[Long], Option[Int]) = {
    val m = MetricStore.Meta.parse(
      Files.readString(java.nio.file.Paths.get(root, "_store")).linesIterator.toSeq)
    (m.bucketSlots, m.numBuckets)
  }

  test("level without count columns reads without them; update marks counts approx") {
    import spark.implicits._
    val root = Files.createTempDirectory("ms-legacy").toString
    val store = new MetricStore(spark, root, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f))
    val base = Now - 3000
    val w0 = base - base % 300
    // hand-write a LEGACY level_1 (pre-count schema: no known/vsum)
    val legacy = Seq(("m", w0, 12.0)).toDF("metric", "interval", "value")
      .withColumn("pb", pmod(hash(col("metric")), lit(4)))
      .withColumn("tb", expr(s"interval div ${store.bucketSeconds(300)}"))
    legacy.write.partitionBy("pb", "tb").parquet(s"$root/level_1")

    val reopened = new MetricStore(spark, root, numBuckets = 4)
    // the probe must expose the true on-disk schema, not the declared one
    assert(!reopened.levelData(1).columns.contains("vsum"),
      s"fabricated count columns: ${reopened.levelData(1).columns.toSeq}")
    assert(reopened.countsExact) // nothing degraded yet

    // an ingest cascading into the legacy level must record the mix
    val pts = (0 until 5).map(i => ("m", w0 + i * 60L, 10.0 + i, i.toLong))
    reopened.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    assert(!reopened.countsExact,
      "merging counted rows into a legacy level must mark counts approx")
  }

  test("fresh store stamps its bucket layout; pre-marker 8192 store is probed") {
    import spark.implicits._
    val root = Files.createTempDirectory("ms-layout").toString
    val store = new MetricStore(spark, root, numBuckets = 4)
    store.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 50000)), xff = 0f))
    val t0 = Now - Now % 60 - 600
    store.updateMany(
      Seq(("m", t0, 1.5, 0L)).toDF("metric", "ts", "value", "seq"), Now)
    assert(layoutOf(root) == ((Some(1024L), Some(4))))

    // hand-build a PRE-MARKER store whose level_0 dirs follow the old
    // 8192-slot layout; opening it must probe 8192 and still fetch
    val root2 = Files.createTempDirectory("ms-layout8k").toString
    val s2 = new MetricStore(spark, root2, numBuckets = 4)
    s2.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 50000)), xff = 0f))
    Seq(("m", t0, 7.5)).toDF("metric", "interval", "value")
      .withColumn("pb", pmod(hash(col("metric")), lit(4)))
      .withColumn("tb", expr(s"interval div ${60L * 8192L}"))
      .write.partitionBy("pb", "tb").parquet(s"$root2/level_0")

    val reopened = new MetricStore(spark, root2, numBuckets = 4)
    assert(reopened.bucketSeconds(60) == 60L * 8192L,
      "pre-marker 8192-layout store was not probed")
    val vals = reopened.fetch("m", t0 - 60, t0 + 60, Now).get.values
    assert(vals.flatten.contains(7.5), s"old-layout point lost: $vals")
    // and the probe result is now stamped for future opens
    assert(layoutOf(root2) == ((Some(8192L), Some(4))))
  }

  test("a pre-marker store matching no known layout is refused, not guessed") {
    import spark.implicits._
    val root = Files.createTempDirectory("ms-layout-bad").toString
    val s = new MetricStore(spark, root, numBuckets = 4)
    s.create("m", RetentionPolicy(Seq(ArchiveInfo(60, 50000)), xff = 0f))
    val t0 = Now - Now % 60 - 600
    // tb deliberately inconsistent with every historical layout
    Seq(("m", t0, 7.5)).toDF("metric", "interval", "value")
      .withColumn("pb", pmod(hash(col("metric")), lit(4)))
      .withColumn("tb", lit(999L))
      .write.partitionBy("pb", "tb").parquet(s"$root/level_0")
    val reopened = new MetricStore(spark, root, numBuckets = 4)
    intercept[InvalidConfiguration] { reopened.fetch("m", t0 - 60, t0 + 60, Now) }
  }

  test("bucket COUNT persists: reopening with a different default cannot mis-prune") {
    import spark.implicits._
    val root = Files.createTempDirectory("ms-nbpersist").toString
    val store = new MetricStore(spark, root, numBuckets = 4)
    val policy =
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f)
    val metrics = (0 until 6).map(i => s"m$i")
    metrics.foreach(store.create(_, policy))
    val base = Now - 3000
    val w0 = base - base % 300
    val pts = metrics.flatMap(m =>
      (0 until 5).map(i => (m, w0 + i * 60L, 10.0 + i, i.toLong)))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    val before = store.fetch("m3", w0, w0 + 300, Now).get.values

    // reopen with the DEFAULT constructor (32 buckets): the persisted
    // layout must win — pb = pmod(hash(metric), 4) is baked into the
    // directory names, so computing buckets mod 32 would prune fetches
    // to the wrong (usually empty) directories and split new writes
    // across two layouts
    val reopened = new MetricStore(spark, root)
    assert(reopened.effectiveBuckets == 4)
    assert(reopened.fetch("m3", w0, w0 + 300, Now).get.values == before)
    // a write through the reopened handle lands in the SAME layout and
    // is visible to the original handle's pruned read
    reopened.updateMany(
      Seq(("m3", w0 + 120L, 99.0, 100L)).toDF("metric", "ts", "value", "seq"), Now)
    val after = store.fetch("m3", w0, w0 + 300, Now).get.values
    assert(after.flatten.contains(99.0), s"reopened write not visible: $after")
  }

  test("level files are ordered by (metric, interval) on fresh AND merged writes") {
    import spark.implicits._
    val policy =
      RetentionPolicy(Seq(ArchiveInfo(60, 300), ArchiveInfo(300, 300)), xff = 0f)
    val base = Now - 3000
    val w0 = base - base % 300
    def assertFilesSorted(root: String, tag: String): Unit = {
      val files = new java.io.File(root).listFiles
        .filter(f => f.getName.startsWith("level_"))
        .flatMap(l => l.listFiles.filter(_.getName.startsWith("pb=")))
        .flatMap(p => p.listFiles.filter(_.getName.startsWith("tb=")))
        .flatMap(t => t.listFiles.filter(_.getName.endsWith(".parquet")))
      assert(files.nonEmpty, s"$tag: no level files found")
      files.foreach { f =>
        // a single small parquet file is one split → collect preserves
        // the writer's row order, so page/row-group min-max stats for
        // (metric, interval) are monotone iff this is sorted
        val rows = spark.read.parquet(f.getPath)
          .select("metric", "interval").as[(String, Long)].collect.toSeq
        assert(rows == rows.sortBy(identity),
          s"$tag: ${f.getPath} not (metric, interval)-ordered: $rows")
      }
    }
    // one store per writeLevel regime: the per-pb fan-out (8 metrics over
    // 4 pbs) and the single clustered write (more touched pbs than the
    // fan-out takes)
    for ((numBuckets, numMetrics) <- Seq((4, 8), (32, 120))) {
      val root = Files.createTempDirectory("ms-fileorder").toString
      val store = new MetricStore(spark, root, numBuckets)
      val metrics = (0 until numMetrics).map(i => s"m$i")
      store.createAll(metrics, policy)
      val pbs = metrics.map(store.pbOf).distinct.size
      assert(pbs >= 2 &&
        (pbs > MetricStore.MaxParallelPbWrites) == (numBuckets == 32), s"$pbs pbs")
      // fresh level
      val pts = metrics.flatMap(m =>
        (0 until 5).map(i => (m, w0 + i * 60L, 10.0 + i, i.toLong)))
      store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
      assertFilesSorted(root, s"$pbs pbs, fresh")
      // merged rows over the existing level, same dirs
      val pts2 = metrics.flatMap(m =>
        (0 until 5).map(i => (m, w0 + i * 60L + 60, 20.0 + i, 100L + i)))
      store.updateMany(pts2.toDF("metric", "ts", "value", "seq"), Now)
      assertFilesSorted(root, s"$pbs pbs, merged")
    }
    // a heterogeneous store: vacuum evicts row by row and rewrites the
    // partitions that held expired rows
    val root = Files.createTempDirectory("ms-fileorder-vacuum").toString
    val store = new MetricStore(spark, root, numBuckets = 4)
    store.createAll((0 until 4).map(i => s"a$i"), policy)
    store.createAll((0 until 4).map(i => s"b$i"),
      RetentionPolicy(Seq(ArchiveInfo(60, 400), ArchiveInfo(300, 300)), xff = 0f))
    val t0 = Now - Now % 300 - 6000
    val pts = store.policies().keys.toSeq.flatMap(m =>
      (0 until 100).map(i => (m, t0 + i * 60L, i.toDouble, i.toLong)))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    val before = store.levelData(0).count()
    store.vacuum(Now + 15000) // evicts the older "a" points only
    assert(store.levelData(0).count() < before, "vacuum evicted nothing")
    assertFilesSorted(root, "vacuumed")
  }

  test("incremental cascade reads the untouched hull under the persisted bucket count") {
    import spark.implicits._
    val root = Files.createTempDirectory("ms-hull-buckets").toString
    val store = new MetricStore(spark, root, numBuckets = 32)
    // a metric whose bucket lies past a 2-bucket layout's range
    val m = (0 until 100).map(i => s"m$i").find(store.pbOf(_) >= 2).get
    store.create(m, RetentionPolicy(
      Seq(ArchiveInfo(60, 50000), ArchiveInfo(300, 20000)), xff = 0f,
      AggregationMethod.Average))
    val bs = store.bucketSeconds(60)
    // a 300 s window that straddles a level-0 time-bucket boundary
    val boundary = 27651L * bs
    val w = boundary - boundary % 300
    assert(w < boundary && boundary < w + 300)
    val t = Seq.tabulate(5)(k => w + 60L * k)
    val now = w + 3600
    store.updateMany(t.take(4).zipWithIndex
      .map { case (ts, k) => (m, ts, k + 1.0, k.toLong) }
      .toDF("metric", "ts", "value", "seq"), now)
    // reopen with another default: the persisted 32 buckets must win, so
    // the window's level-0 rows left on the other side of the boundary
    // are read back for the rollup
    val reopened = new MetricStore(spark, root, numBuckets = 2)
    reopened.updateMany(Seq((m, t(4), 10.0, 10L))
      .toDF("metric", "ts", "value", "seq"), now)
    val v = reopened.levelData(1)
      .where(col("metric") === m && col("interval") === w)
      .select("value").as[Double].collect().toSeq
    assert(v == Seq(4.0), s"window $w: $v")
  }

  test("a pre-manifest store migrates its four metadata files into _store once") {
    import spark.implicits._
    val root = Files.createTempDirectory("ms-legacy-meta").toString
    def put(name: String, text: String): Unit =
      Files.writeString(java.nio.file.Paths.get(root, name), text)
    put("policies.tsv", "a\t60:50000,300:20000\t0.5\taverage\nb\t60:50000\t0.0\tmax")
    put("_layout", "bucket_slots=8192\nnum_buckets=4\n")
    put("_counts_approx", "")
    put("_rollup_diverged", "")
    val t0 = Now - Now % 60 - 600
    Seq(("a", t0, 7.5)).toDF("metric", "interval", "value")
      .withColumn("pb", pmod(hash(col("metric")), lit(4)))
      .withColumn("tb", expr(s"interval div ${60L * 8192L}"))
      .write.partitionBy("pb", "tb").parquet(s"$root/level_0")

    val expected = Map(
      "a" -> RetentionPolicy(Seq(ArchiveInfo(60, 50000), ArchiveInfo(300, 20000)),
        0.5f, AggregationMethod.Average),
      "b" -> RetentionPolicy(Seq(ArchiveInfo(60, 50000)), 0f, AggregationMethod.Max))
    // opened with the constructor default (32 buckets): the legacy layout wins
    for (store <- Seq(new MetricStore(spark, root), new MetricStore(spark, root))) {
      assert(store.policies() == expected)
      assert(!store.countsExact && !store.rollupsDerivedFromLevel0)
      assert(store.effectiveBuckets == 4)
      assert(store.bucketSeconds(60) == 60L * 8192L)
      assert(store.fetch("a", t0 - 60, t0 + 60, Now).get.values.flatten == Seq(7.5))
      assert(new java.io.File(root).list().sorted.toSeq == Seq("_store", "level_0"))
    }
  }

  test("concurrent commits through two handles on one root lose nothing") {
    val root = Files.createTempDirectory("ms-meta-concurrent").toString
    val handles = Seq(new MetricStore(spark, root, numBuckets = 4),
      new MetricStore(spark, root, numBuckets = 4))
    val policy = RetentionPolicy(Seq(ArchiveInfo(60, 300)), xff = 0f)
    def names(t: Int, k: Int) = (0 until 5).map(j => s"t$t.k$k.m$j")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 10).foreach { k =>
            val h = handles(t % 2)
            h.createAll(names(t, k), policy)
            if (k == 5 && t % 4 == 1) h.markCountsApprox()
            if (k == 5 && t % 4 == 3) h.markRollupsDiverged()
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val all = (for (t <- 0 until 8; k <- 0 until 10) yield names(t, k)).flatten.toSet
    handles.foreach { h =>
      assert(h.policies().keySet == all,
        s"lost: ${(all -- h.policies().keySet).size} of ${all.size}")
      assert(!h.countsExact && !h.rollupsDerivedFromLevel0)
    }
  }
}
