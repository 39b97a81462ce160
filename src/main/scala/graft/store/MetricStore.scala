package graft.store

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.model._
import graft.ops._

/** Fetch result — whisper's `(timeInfo, valueList)` contract
  * (/root/reference/whisper.py:959,1032-1034): a dense per-slot vector,
  * None where no point is stored.
  */
final case class FetchResult(
    fromInterval: Long,
    untilInterval: Long,
    step: Long,
    values: Seq[Option[Double]])

/** The Spark-native analog of a whisper database directory: one
  * metadata record plus one parquet table per resolution level, rows
  * (metric, interval, value).
  *
  * The metadata record is `_store` — whisper's header (Metadata plus one
  * ArchiveInfo per archive, whisper.py:18-26) for a whole store: a format
  * version, the bucket layout, the `counts_exact` and
  * `derived_from_level0` flags and the policy catalog. It is read through
  * one cache and replaced atomically by one writer, [[commitMeta]].
  * Ordering rule: every metadata change commits BEFORE the data change it
  * covers, so after a crash at any point the record claims at most what
  * the data supports — a cleared flag only makes consumers (rollup
  * substitution) read level 0, which is exact while level 0 holds the rows.
  *
  * Scale design (the part that must survive 1000 executors / 100 TB):
  *   - level tables are partitioned by (pb, tb): pb = hash-bucket of the
  *     metric name (spreads high-cardinality metric sets; no
  *     one-directory-per-metric small-file explosion), tb = coarse time
  *     bucket (gives fetches partition pruning on the time range — the
  *     Spark replacement for whisper's O(1) ring offset arithmetic);
  *   - upserts use dynamic partition overwrite: only (pb, tb) partitions
  *     touched by a batch are read, merged last-write-wins, and
  *     rewritten — ingest cost is proportional to the batch's spread,
  *     not table size (whisper's in-place slot write, re-expressed);
  *   - the rollup cascade recomputes only windows touched by the batch
  *     (whisper's uniqueLowerIntervals, whisper.py:866-869) and stops at
  *     the first level where nothing propagates (whisper.py:868-875).
  *
  * All merging is metric-agnostic: one store holds MANY metrics (the
  * BASELINE.json mandate — whisper's one-file-per-metric is not
  * replicated) and every operation below is a distributed dataframe job.
  */
final class MetricStore(val spark: SparkSession, val root: String,
                        val numBuckets: Int = 32) {
  import MetricStore._

  private val fs = new java.io.File(root)
  fs.mkdirs()
  private val canonicalRoot = fs.getCanonicalPath

  private def levelPath(i: Int) = s"$root/level_$i"

  // ---- store manifest -------------------------------------------------

  private def metaPath = Paths.get(root, MetaFile)

  /** The committed record, parsed once per `_store` file — whisper's
    * header cache (whisper.py:276-328). Every commit renames a new file
    * into place, so a changed (fileKey, lastModifiedTime) is the cache
    * invalidation (whisper.py:385-386), and a `resize` swap shows too.
    */
  private def storedMeta(): Option[Meta] =
    (try Some(Files.readAttributes(metaPath, classOf[BasicFileAttributes]))
    catch { case _: NoSuchFileException => None }).map { a =>
      val c = metaCache.get(canonicalRoot)
      if (c != null && c._1 == a.fileKey && c._2 == a.lastModifiedTime) c._3
      else {
        val m = Meta.parse(Files.readString(metaPath).linesIterator.toSeq)
        metaCache.put(canonicalRoot, (a.fileKey, a.lastModifiedTime, m))
        m
      }
    }

  /** The store's metadata; the first read of a store without `_store`
    * commits one (migrating a pre-manifest store's files).
    */
  private def meta: Meta = storedMeta().getOrElse(commitMeta(identity))

  /** The one writer of `_store`: replace it with `f(current)` through
    * tmp + ATOMIC_MOVE, under a per-root lock shared by every handle —
    * flags are cleared from write-pool threads (`mergedTouched`), and a
    * lost read-modify-write could re-set a cleared flag. A pre-manifest
    * store's legacy files are the current record of its first commit and
    * are deleted only once `_store` covers them. Returns the new record.
    */
  private[store] def commitMeta(f: Meta => Meta): Meta =
    metaLocks.computeIfAbsent(canonicalRoot, _ => new Object).synchronized {
      val stored = storedMeta()
      val next = f(stored.getOrElse(legacyMeta(root)))
      val tmp = Paths.get(root, s"$MetaFile.tmp")
      Files.writeString(tmp, next.render)
      Files.move(tmp, metaPath,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      val a = Files.readAttributes(metaPath, classOf[BasicFileAttributes])
      metaCache.put(canonicalRoot, (a.fileKey, a.lastModifiedTime, next))
      if (stored.isEmpty)
        LegacyMetaFiles.foreach(n => Files.deleteIfExists(Paths.get(root, n)))
      next
    }

  /** Seconds of data per time-bucket partition at a given step:
    * `bucketSlots` slots per (metric, partition). The bucket is the
    * store's REWRITE unit — an upsert re-reads and rewrites every
    * touched (pb, tb) directory in full — so its span bounds incremental
    * write amplification: at 1024 slots a daily batch on a 60s level
    * touches ~17h-wide buckets (≈2× amplification) where 8192 slots
    * meant 5.7-day buckets (≈11× — measured as x01 re-reading a third of
    * level 0 and ALL of a 300s level at sf0.1). Row-group size inside a
    * bucket is still metrics/numBuckets × slots, plenty for parquet.
    */
  def bucketSeconds(step: Int): Long = step.toLong * bucketSlots

  /** The bucket layout, PERSISTED per store (`bucket_slots`,
    * `num_buckets`, stamped on first use): tb and pb values are baked
    * into every partition directory name, so a binary whose defaults
    * differ would silently prune every fetch to empty and write duplicate
    * rows under new dirs. A store predating the layout keys is probed.
    */
  private lazy val layout: Meta = {
    val m = meta
    if (m.bucketSlots.nonEmpty) m
    else {
      val slots = if (!anyLevelDirExists) DefaultBucketSlots else probeBucketSlots()
      commitMeta(cur =>
        if (cur.bucketSlots.nonEmpty) cur
        else cur.copy(bucketSlots = Some(slots), numBuckets = Some(numBuckets)))
    }
  }

  private def bucketSlots: Long = layout.bucketSlots.get

  /** Effective partition-bucket count: the persisted value wins over
    * the constructor's, since pb = pmod(hash(metric), n) is baked into
    * directory names. A legacy layout without the key keeps the
    * constructor value (those stores were always opened with their
    * creating bucket count in-repo).
    */
  lazy val effectiveBuckets: Int = layout.numBuckets.getOrElse(numBuckets)

  /** True when ANY `level_i` directory exists — a pre-layout store whose
    * data lives only in coarse levels (e.g. a too-old backfill that never
    * touched level 0) must still be probed, not stamped with the default.
    */
  private def anyLevelDirExists: Boolean =
    Option(fs.listFiles()).exists(_.exists(f => f.isDirectory && f.getName.startsWith("level_")))

  /** Infer a pre-layout store's bucket layout from its own directories:
    * find one `level_i/pb=?/tb=N` partition, read one row's (metric,
    * interval), take THAT metric's level-i step from the catalog, and
    * pick the historical slot count whose `interval div (step·slots)`
    * reproduces N (epoch-scale intervals separate the candidates). A
    * store whose layout matches NO candidate is refused loudly; one with
    * no data rows gets the current default.
    */
  private def probeBucketSlots(): Long = {
    val candidates = Seq(MetricStore.DefaultBucketSlots, 8192L)
    val ps = policies()
    val sample = ps.values.headOption.flatMap { _ =>
      (0 until ps.values.map(_.levels.size).max).view.flatMap { i =>
        for {
          dir <- firstUnder(Paths.get(levelPath(i)), 2)(_.getFileName.toString.startsWith("tb="))
          file <- firstParquetFile(dir)
          row <- spark.read.parquet(file.toString).select("metric", "interval")
            .head(1).headOption
          policy <- ps.get(row.getString(0))
          if i < policy.levels.size
        } yield (dir.getFileName.toString.stripPrefix("tb=").toLong,
          policy.levels(i).secondsPerPoint.toLong, row.getLong(1))
      }.headOption
    }
    sample match {
      case None => MetricStore.DefaultBucketSlots
      case Some((tb, step, interval)) =>
        candidates.find(c => interval / (step * c) == tb).getOrElse(
          throw new InvalidConfiguration(
            s"store $root: cannot infer bucket layout (tb=$tb, step=$step, " +
              s"interval=$interval matches none of ${candidates.mkString(",")}); " +
              s"add bucket_slots=<n> to $MetaFile to open it"))
    }
  }

  /** First path at most `depth` levels under `dir` that passes `p`. */
  private def firstUnder(dir: Path, depth: Int)(p: Path => Boolean): Option[Path] =
    if (!Files.isDirectory(dir)) None
    else {
      val s = Files.walk(dir, depth)
      try { val f = s.filter(x => p(x)).findFirst(); if (f.isPresent) Some(f.get) else None }
      finally s.close()
    }

  /** First parquet data file under a directory, if any (shared by the
    * layout probe and the count-column probe).
    */
  private def firstParquetFile(dir: Path): Option[Path] =
    firstUnder(dir, Int.MaxValue)(_.toString.endsWith(".parquet"))

  // ---- policy catalog -------------------------------------------------

  /** The catalog is small metadata, so it is plain-file IO (whisper reads
    * headers directly too) — no Spark job per create/info/set.
    */
  def policies(): Map[String, RetentionPolicy] = meta.policies

  /** whisper create(): register a metric. Fails if it already exists
    * (whisper.py:501-502).
    */
  def create(metric: String, policy: RetentionPolicy): Unit =
    createAll(Seq(metric), policy)

  /** Batch registration: one catalog commit for many metrics. */
  def createAll(metrics: Seq[String], policy: RetentionPolicy): Unit =
    commitMeta { m =>
      metrics.find(m.catalog.contains).foreach { x =>
        throw new InvalidConfiguration(s"File $x already exists!")
      }
      m.withPolicies(metrics.map(_ -> policy))
    }

  /** whisper info() (whisper.py:878-889). */
  def info(metric: String): Option[(RetentionPolicy, Seq[Header.LevelInfo])] =
    policies().get(metric).map(p => (p, Header.infoRows(p)))

  /** setAggregationMethod/setXFilesFactor (whisper.py:331-388): policy
    * update returning the old value.
    */
  def setAggregationMethod(metric: String, m: AggregationMethod): AggregationMethod =
    updatePolicy(metric)(_.copy(aggregation = m)).aggregation

  def setXFilesFactor(metric: String, xff: Float): Float = {
    if (xff.isNaN || xff < 0 || xff > 1)
      throw new InvalidXFilesFactor(s"Invalid xFilesFactor $xff, not between 0 and 1")
    updatePolicy(metric)(_.copy(xff = xff)).xff
  }

  /** One commit replaces a metric's policy and, when the policy changes,
    * clears `derived_from_level0` with it: whisper rewrites only the
    * header, so existing rollup rows keep the OLD kernel and xff gate and
    * the levels stop matching a cascade under the new policy. Returns the
    * old policy.
    */
  private def updatePolicy(metric: String)(
      f: RetentionPolicy => RetentionPolicy): RetentionPolicy = {
    var old: RetentionPolicy = null
    commitMeta { m =>
      old = policyIn(m.policies, metric)
      val next = f(old)
      m.withPolicies(Seq(metric -> next))
        .copy(derivedFromLevel0 = m.derivedFromLevel0 && next == old)
    }
    old
  }

  // ---- level IO -------------------------------------------------------

  def levelData(i: Int): DataFrame = {
    val dir = new java.io.File(levelPath(i))
    // a vacuumed-empty table has a directory but no partition dirs —
    // schema inference fails there too, so fall back to the empty frame
    if (!dir.exists()) emptyLevel(i)
    else
      // every writer emits exactly levelSchema(i), so declare it and skip
      // the footer-sampling schema-inference job on each read
      try spark.read.schema(levelSchema(i)).parquet(levelPath(i))
      catch { case _: org.apache.spark.sql.AnalysisException => emptyLevel(i) }
  }

  /** The level's full on-disk schema (data + partition columns). Levels
    * ≥ 1 additionally store contribution counts: `known` = number of
    * level-0 points the row consolidates, `vsum` = their sum — maintained
    * by the cascade (Rollup.propagateCounted), null when a writer cannot
    * supply them (see [[countsExact]]). `value` is still whisper's kernel
    * output. Reads declare the schema to skip the schema-inference job.
    *
    * Whether the count columns are declared follows a ONE-FILE footer
    * probe: declaring known/vsum over a level written before the columns
    * existed would read fabricated nulls and defeat the legacy detection
    * in [[withCountCols]], which clears `counts_exact`.
    */
  private def levelSchema(i: Int): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val counts =
      if (i == 0 || !levelHasCountCols(i)) Nil
      else Seq(StructField("known", LongType), StructField("vsum", DoubleType))
    StructType(Seq(
      StructField("metric", StringType),
      StructField("interval", LongType),
      StructField("value", DoubleType)) ++ counts ++ Seq(
      StructField("pb", IntegerType),
      StructField("tb", LongType)))
  }

  /** Does level i's on-disk data actually carry the count columns?
    * Probed once per store instance from a single parquet footer (lazy,
    * stops at the first file). An empty or absent level answers true —
    * every current writer emits the columns. A level that gains count
    * columns AFTER a false probe just reads conservatively (counts
    * dropped → [[withCountCols]] marks approx) until a fresh instance
    * re-probes; `counts_exact` is already cleared in that scenario.
    */
  private val levelCountsProbe =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()

  private def levelHasCountCols(i: Int): Boolean =
    levelCountsProbe.computeIfAbsent(i, _ => {
      val firstFile = firstParquetFile(Paths.get(levelPath(i)))
      java.lang.Boolean.valueOf(firstFile.forall(f =>
        spark.read.parquet(f.toString).schema.fieldNames.contains("vsum")))
    }).booleanValue()

  private def emptyLevel(i: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], levelSchema(i))

  /** (metric, interval, value [, known, vsum]) — the level's data columns
    * normalized for the cascade: level 0 never has counts; deeper levels
    * get null counts when the on-disk table predates them (nulls
    * propagate through count sums as "unknown" rather than fabricating
    * exactness).
    */
  private def withCountCols(df: DataFrame, i: Int): DataFrame =
    if (i == 0) df.select("metric", "interval", "value")
    else if (df.columns.contains("known") && df.columns.contains("vsum"))
      df.select("metric", "interval", "value", "known", "vsum")
    else {
      // a deep level without count columns (store written before they
      // existed): its contributions are unknown — record that before
      // fabricated nulls flow into downstream windows
      markCountsApprox()
      df.select("metric", "interval", "value")
        .withColumn("known", lit(null).cast("long"))
        .withColumn("vsum", lit(null).cast("double"))
    }

  // ---- contribution-count exactness ----------------------------------

  /** Cleared (`counts_exact`) when any level ≥ 1 receives rows whose
    * counts are unknown — external rollup upserts without counts, .wsp
    * imports, value transforms — so deep Average substitution in
    * RollupSubstitution can tell. Store reads/writes are unaffected.
    */
  def countsExact: Boolean = meta.countsExact
  private[graft] def markCountsApprox(): Unit =
    if (meta.countsExact) commitMeta(_.copy(countsExact = false))

  /** Cleared (`derived_from_level0`) once any level's content can no
    * longer be assumed to be the pure cascade of the CURRENT level-0
    * table: points routed directly into coarser archives (too old for
    * the finer retentions, whisper.py:767-784), external rollup upserts
    * (which bypass the cascade at ANY level), value transforms (per-level
    * rewrites don't commute with the kernels) and level-0 eviction.
    * RollupSubstitution requires it set — replacing a level-0
    * aggregation with a level scan is only sound while the level IS that
    * aggregation. Store reads/writes are unaffected either way.
    */
  def rollupsDerivedFromLevel0: Boolean = meta.derivedFromLevel0
  private[graft] def markRollupsDiverged(): Unit =
    if (meta.derivedFromLevel0) commitMeta(_.copy(derivedFromLevel0 = false))

  /** Adds the (pb, tb) partition columns, unless `df` already carries them. */
  private def withPartitionCols(df: DataFrame, step: Int): DataFrame =
    if (df.columns.contains("pb")) df
    else
      df.withColumn("pb", pmod(hash(col("metric")), lit(effectiveBuckets)))
        .withColumn("tb", expr(s"interval div ${bucketSeconds(step)}"))

  /** The metric's partition bucket computed on the driver: the one twin
    * of the writer's `pmod(hash(metric), effectiveBuckets)` above
    * (`functions.hash` is Murmur3 with seed 42). Every read that prunes
    * pb directories by metric name goes through here.
    */
  private[graft] def pbOf(metric: String): Int = {
    val h = Murmur3Hash(Seq(Literal(UTF8String.fromString(metric), StringType)), 42)
      .eval(null).asInstanceOf[Int]
    Math.floorMod(h, effectiveBuckets)
  }

  /** Level i's stored rows for `metrics` whose intervals can fall in
    * [fromInterval, untilInterval): only the metrics' pb directories
    * crossed with the range's tb directories are listed and read, never
    * the level root. The tb bound is conservative by one bucket below
    * the range.
    */
  private def rangeRows(i: Int, step: Int, metrics: Seq[String],
                        fromInterval: Long, untilInterval: Long): DataFrame = {
    val bs = bucketSeconds(step)
    val touched = for {
      p <- metrics.map(pbOf).distinct
      t <- fromInterval / bs - 1 to untilInterval / bs
    } yield (p, t)
    existingTouched(i, touched.toSet)
  }

  /** Merge `incoming` (metric, interval, value, prio) into level i:
    * read ONLY the touched (pb, tb) partitions, last-write-wins by prio
    * (existing rows get prio -1), dynamically overwrite those partitions.
    *
    * @param touchedPre the incoming frame's distinct (pb, tb) set when
    *        the caller already knows it (saves the discovery job)
    */
  private def upsertLevel(i: Int, step: Int, incoming: DataFrame,
                          touchedPre: Option[Set[(Int, Long)]] = None): Unit = {
    val newPts = withPartitionCols(incoming, step)

    // first write to a fresh level: incoming frames are already
    // slot-unique (routed/propagated), so skip the merge aggregation
    if (!new java.io.File(levelPath(i)).exists()) {
      writeLevel(i, newPts.drop("prio"),
        touchedPre.map(_.map(_._1)).getOrElse(Set.empty), clustered = false)
      return
    }

    val touched = touchedPre.getOrElse(
      newPts.select("pb", "tb").distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet)
    if (touched.isEmpty) return

    writeLevel(i, mergedTouched(i, newPts, touched), touched.map(_._1), clustered = true)
  }

  /** The one write of level data: land `rows` (the level's data columns
    * plus pb, tb) in level i, replacing exactly the (pb, tb) partitions
    * the rows touch (dynamic partition overwrite, set per write — NOT on
    * the session, where it would silently change overwrite semantics for
    * unrelated user writes sharing the SparkSession). `pbs` is the
    * touched-pb set when the caller knows it (empty otherwise).
    *
    * Rows are clustered by (pb, tb) — without that every task writes a
    * file into every partition directory and the file count explodes by
    * the task count — unless `clustered` says they arrive so:
    * [[mergedTouched]]'s merge shares its (pb, tb) exchange with the
    * write, and its output usually reaches here through a local
    * checkpoint, which reports no partitioning, so the planner could not
    * elide a second exchange. Inside files rows are sorted by (metric,
    * interval): the write planner's required ordering is the partition
    * columns, which the sort satisfies (no second sort), and it lines
    * parquet page/row-group min-max stats up with exactly the filters
    * every read pushes, so a metric-pinned or time-bounded scan skips
    * pages instead of decoding whole files.
    *
    * Two regimes, picked by the touched-pb count:
    *
    *  - **commit-bound** (2..[[MetricStore.MaxParallelPbWrites]] pbs:
    *    small stores, small batches): the dynamic-partition commit walks
    *    every (pb, tb) directory sequentially on the driver (~1.1 s of a
    *    1.4 s sf0.1 write into ~130 dirs, WriteProbe, last commit
    *    e6b2e65). So ONE JOB PER pb writes `pb=<p>/` with
    *    `partitionBy(tb)`: separate roots mean separate staging and
    *    commits that overlap across jobs (1.38 s → 0.64 s warm), with the
    *    same layout on disk; each job's `pb = p` filter prunes its read.
    *  - **data-bound** (one pb, or many = real scale): one clustered
    *    write; per-pb jobs would each re-scan their input for a slice,
    *    with no commit win once data volume amortizes the commit.
    *
    * The fan-out lives inside the per-level write because fusing all
    * fresh LEVELS into one commit serialized the cascade behind it (x00
    * 2.0 s per-level vs 3.0 s fused at sf0.1, LayoutExperiment, last
    * commit 179af17); level writes overlap the cascade through
    * [[MetricStore.writeEc]] futures.
    *
    * Every job is tagged `graft.store.write level=<i>` (the job
    * description, restored after): fan-out writes run on pool threads
    * interleaved with the caller's cascade jobs, and the tag is how
    * listeners (Bench, perfbench, the Spark UI) tell the two apart.
    */
  private def writeLevel(i: Int, rows: DataFrame, pbs: Set[Int],
                         clustered: Boolean): Unit = {
    def write(df: DataFrame, parts: Seq[String], path: String): Unit = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graft.store.write level=$i")
      try
        df.sortWithinPartitions((parts ++ Seq("metric", "interval")).map(col): _*)
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite)
          .partitionBy(parts: _*)
          .parquet(path)
      finally sc.setJobDescription(prev)
    }
    if (pbs.size < 2 || pbs.size > MaxParallelPbWrites) {
      write(if (clustered) rows else rows.repartition(col("pb"), col("tb")),
        Seq("pb", "tb"), levelPath(i))
      return
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // NOT writeEc: the caller may itself be a writeEc future — sub-jobs
    // on the same fixed pool could starve behind parents awaiting them
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // pb is encoded in the directory name; keeping the column in the data
    // too would collide with partition discovery on read. The per-job
    // re-cluster by tb matters: a filtered slice of an already-clustered
    // frame can claim a stale ordering that makes the write planner elide
    // its partition sort and collide staging files.
    val done = pbs.toSeq.sorted.map { p =>
      Future(write(rows.where(col("pb") === p).drop("pb").repartition(col("tb")),
        Seq("tb"), s"${levelPath(i)}/pb=$p"))
    }
    done.foreach(Await.result(_, Duration.Inf))
    // the fan-out wrote SUBDIRECTORY roots (pb=<p>), whose post-insert
    // refresh leaves the session's FileStatusCache holding the PARENT
    // level listing; a later scan built from it hits the replaced files
    // (FAILED_READ_FILE.FILE_NOT_EXIST, seen in RoundTripPropertySpec).
    // A single-root write's own commit refreshes the root.
    spark.catalog.refreshByPath(levelPath(i))
  }

  /** Current on-disk rows of level i's touched (pb, tb) partitions,
    * reading ONLY those directories: the root path would list the whole
    * level just to prune it again. basePath keeps pb/tb as partition
    * columns. Past `parallelPartitionDiscovery.threshold` paths one read
    * lists them in a Spark job with a task per path (dearer than the
    * scan on a local store), so the directories are read in groups of at
    * most that many and unioned: listing on the driver, scans in one job.
    */
  private def existingTouched(i: Int, touched: Set[(Int, Long)]): DataFrame = {
    val dirs = touched.toSeq
      .map { case (p, t) => s"${levelPath(i)}/pb=$p/tb=$t" }
      .filter(d => new java.io.File(d).exists())
    if (dirs.isEmpty) emptyLevel(i)
    else
      dirs.grouped(math.max(1, spark.sessionState.conf.parallelPartitionDiscoveryThreshold))
        .map(group => spark.read.option("basePath", levelPath(i))
          .schema(levelSchema(i)) // skip the schema-inference job
          .parquet(group: _*))
        .reduce(_ union _)
  }

  /** Post-upsert content of level i's touched partitions — existing rows
    * last-write-wins-merged with the incoming frame (prio -1 loses to
    * any incoming prio). This is both what upsertLevel writes and, for
    * the deferred-write cascade, a mirror of the level's future state
    * computable BEFORE the write lands.
    *
    * A side missing the count columns contributes nulls and clears
    * `counts_exact`: those rows' counts are unknown from here on.
    */
  private def mergedTouched(i: Int, newPts: DataFrame,
                            touched: Set[(Int, Long)]): DataFrame = {
    val existing = existingTouched(i, touched).withColumn("prio", lit(-1L))
    if (i > 0 && existing.columns.contains("vsum") != newPts.columns.contains("vsum"))
      markCountsApprox()
    // Cluster by the PHYSICAL partition keys before merging: (metric,
    // interval) determine (pb, tb), so this co-locates every merge group
    // AND pre-clusters the partitionBy(pb, tb) write — merge and write
    // share ONE shuffle.
    highestPrio(
      existing.unionByName(newPts, allowMissingColumns = true)
        .repartition(col("pb"), col("tb")),
      Seq("metric", "interval", "pb", "tb"))
  }

  /** Explicit (pb, tb) directory candidates covering intervals [lo, hi)
    * at level i, or None when the hull spans too many directories for
    * explicit enumeration to beat a pruned root listing.
    */
  private def hullDirCandidates(i: Int, bucketSecs: Long,
                                lo: Long, hi: Long): Option[Seq[String]] = {
    val tbLo = lo / bucketSecs
    val tbHi = (hi - 1) / bucketSecs
    if (tbHi < tbLo || (tbHi - tbLo + 1) * effectiveBuckets > 4096) None
    else Some(for {
      pb <- 0 until effectiveBuckets
      tb <- (tbLo to tbHi).toSeq
    } yield s"${levelPath(i)}/pb=$pb/tb=$tb")
  }

  // ---- write path -----------------------------------------------------

  /** whisper update_many (whisper.py:740-875): route points to their
    * finest covering level, LWW-dedup, upsert, then cascade rollups
    * through coarser levels recomputing only touched windows.
    *
    * @param batch (metric, ts: epoch-sec long, value, seq: arrival order)
    */
  def updateMany(batch: DataFrame, now: Long): Unit = {
    val ps = policies()
    require(ps.nonEmpty, "no metrics created")
    // heterogeneous policies: one routed ingest per distinct policy shape
    // (policy count is small; each group's cascade is its own job chain)
    ps.values.toSeq.distinct match {
      case Seq(single) => updateManyForPolicy(batch, single, now)
      case multiple =>
        multiple.foreach { policy =>
          val metrics = ps.collect { case (m, p) if p == policy => m }.toSeq
          updateManyForPolicy(
            batch.where(col("metric").isin(metrics: _*)), policy, now)
        }
    }
  }

  // The routed cache and the mirror/propagated cuts are released
  // ([[Frames]]) after the finally below has awaited every write.
  private def updateManyForPolicy(batch: DataFrame, policy: RetentionPolicy,
                                  now: Long): Unit =
    Frames.scoped { frames =>
      val routed = frames.hold(Ingest.routeAndDedup(batch, policy, now).cache())
      // Writes are taken off the cascade's critical path: a FRESH level's
      // (bulk load) goes straight to the background pool, since the
      // cascade reads the in-memory prevContent, never the written files;
      // a NON-FRESH level's next step reads a merged MIRROR (pre-write
      // disk rows LWW incoming) plus the untouched hull partitions, so its
      // write is deferred one step and launched once that reader has
      // materialized. Everything is awaited before updateMany returns.
      val pendingWrites = scala.collection.mutable.Buffer.empty[scala.concurrent.Future[Unit]]
      // deferred-write slot (at most one — the previous level's); the
      // finally block lands it when the cascade throws mid-loop
      var deferred: Option[() => Unit] = None
      // (level, post-upsert mirror of touched partitions, touched set)
      var deferredMirror: Option[(Int, DataFrame, Set[(Int, Long)])] = None
      var bodyFailure: Throwable = null
      try {
        val steps = policy.levels.map(_.secondsPerPoint)

        // ONE pass over the routed cache at (level, pb, tb) granularity
        // yields the whole plan: each level's direct writes, touched
        // partitions and interval bounds — one job, not several per level.
        val tbForLevel: Column =
          steps.zipWithIndex.foldRight(lit(null).cast("long")) {
            case ((st, i), e) =>
              when(col("level") === i,
                expr(s"interval div ${bucketSeconds(st)}")).otherwise(e)
          }
        val partStats: Seq[(Int, Int, Long, Long, Long, Long)] = routed
          .withColumn("pb", pmod(hash(col("metric")), lit(effectiveBuckets)))
          .withColumn("tb", tbForLevel)
          .groupBy("level", "pb", "tb")
          .agg(count(lit(1)).as("n"), min("interval").as("lo"), max("interval").as("hi"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq
        val directStats: Map[Int, (Long, Long, Long)] = partStats
          .groupBy(_._1)
          .map { case (lvl, rows) =>
            lvl -> ((rows.map(_._4).sum, rows.map(_._5).min, rows.map(_._6).max))
          }
        val coarseDirect = directStats.exists { case (l, (n, _, _)) => l >= 1 && n > 0 }
        // points landing directly in a coarser archive are invisible to
        // level-0 aggregations
        if (coarseDirect) markRollupsDiverged()
        val directTouched: Map[Int, Set[(Int, Long)]] = partStats
          .groupBy(_._1)
          .map { case (lvl, rows) => lvl -> rows.map(r => (r._2, r._3)).toSet }
        val directCounts: Map[Int, Long] = directStats.map { case (k, v) => k -> v._1 }

        // levels that did not exist before this batch: their on-disk
        // content will BE the in-memory frame, so the cascade skips the
        // parquet round trip (the bulk-load case, w20/x00)
        val freshLevels: Set[Int] =
          steps.indices.filterNot(i => new java.io.File(levelPath(i)).exists()).toSet

        // deferred-write dispatcher. `launchDeferred` releases the held
        // write to the background pool once its pre-write state has been
        // read, `flushDeferred` runs it inline when a reader needs the
        // POST-write files on disk (mirror unavailable).
        def launchDeferred(): Unit = {
          deferred.foreach(t =>
            pendingWrites += scala.concurrent.Future(t())(MetricStore.writeEc))
          deferred = None
        }
        def flushDeferred(): Unit = { deferred.foreach(_()); deferred = None }
        def runUpsert(i: Int, step: Int, incoming: DataFrame,
                      touched: Set[(Int, Long)]): Unit =
          if (freshLevels.contains(i))
            pendingWrites += scala.concurrent.Future(
              upsertLevel(i, step, incoming, Some(touched)))(MetricStore.writeEc)
          else {
            // the post-upsert mirror is built ONCE and shared by the
            // cascade's reader and the write (upsertLevel would re-merge
            // the same partitions). localCheckpoint, NOT cache: every
            // insert-overwrite commit re-executes (re-lists) cached plans
            // matching the written path, so with per-pb writes running
            // concurrently one job's recache could re-list a SIBLING pb's
            // directory mid-overwrite and fail-stop the batch ("Invalid
            // directory or I/O error", surfaced by w22). The eager
            // checkpoint cuts the disk lineage BEFORE any write launches.
            val mirror = frames.hold(
              mergedTouched(i, withPartitionCols(incoming, step), touched).localCheckpoint())
            deferred = Some(() => writeLevel(i, mirror, touched.map(_._1), clustered = true))
            deferredMirror = Some((i, mirror, touched))
          }

        // level-0 direct writes (no propagated input at the finest level);
        // direct writes to coarser levels (points too old for finer levels,
        // whisper.py:767-784) are FUSED into that level's cascade upsert
        // below — one dynamic-overwrite commit per level, not two
        if (directCounts.getOrElse(0, 0L) > 0)
          runUpsert(0, steps(0),
            routed.where(col("level") === 0)
              .select(col("metric"), col("interval"), col("value"), lit(0L).as("prio")),
            directTouched(0))

        // rollup cascade: recompute only touched lower windows from the
        // (post-upsert) higher level. The change set feeding level i+1 is
        // propagated windows at i PLUS the batch's DIRECT writes at i —
        // whisper cascades from every archive that received points
        // (whisper.py:858-875). Stops when a level neither propagates nor
        // received direct writes (the bulk early exit, whisper.py:868-875).
        var changed = routed.where(col("level") === 0).select("metric", "interval")
        var changedNonEmpty = directCounts.getOrElse(0, 0L) > 0
        // conservative hull of the change set's intervals, maintained
        // WITHOUT extra jobs: propagated intervals are alignments of the
        // previous hull, direct-write bounds come from the stats pass
        var bLo = directStats.get(0).map(_._2).getOrElse(Long.MaxValue)
        var bHi = directStats.get(0).map(_._3).getOrElse(Long.MinValue)
        // in-memory content of level i-1, kept only while levels are fresh
        var prevContent: Option[DataFrame] =
          if (freshLevels.contains(0))
            Some(routed.where(col("level") === 0).select("metric", "interval", "value"))
          else None
        var i = 1
        // keep cascading while any deeper level holds unpropagated direct
        // writes: a batch landing only in coarse archives must roll up too
        while (i < steps.length &&
          (changedNonEmpty || directStats.exists { case (l, (n, _, _)) => l >= i && n > 0 })) {
          // Partition-prune the higher-level read to the change hull BEFORE
          // the semi join (an incremental batch reads only the time buckets
          // it touches); the interval predicate also reaches parquet
          // row-group min/max pruning inside each bucket.
          val lowerMin = bLo - bLo % steps(i)
          val upper = bHi - bHi % steps(i) + steps(i)
          val bsHi = bucketSeconds(steps(i - 1))
          val higher = prevContent.orElse {
            // level i-1's write is still deferred: read its post-upsert
            // state as merged-mirror(touched) ∪ disk(untouched ∩ hull) —
            // the pre-write files stay valid because the write launches
            // only after this plan materializes
            deferredMirror.collect { case (lvl, mirror, touched) if lvl == i - 1 =>
              hullDirCandidates(i - 1, bsHi, lowerMin, upper).map { dirs =>
                val touchedDirs = touched.map {
                  case (p, t) => s"${levelPath(i - 1)}/pb=$p/tb=$t"
                }
                val untouchedDirs = dirs.filterNot(touchedDirs)
                  .filter(d => new java.io.File(d).exists())
                val m = withCountCols(mirror, i - 1)
                // common incremental case: the hull is entirely touched —
                // skip the disk read and the union, read the mirror alone
                val withUntouched =
                  if (untouchedDirs.isEmpty) m
                  else
                    m.unionByName(withCountCols(
                      spark.read.option("basePath", levelPath(i - 1))
                        .schema(levelSchema(i - 1)) // skip schema inference
                        .parquet(untouchedDirs: _*), i - 1))
                withUntouched
                  .where(col("interval") >= lowerMin && col("interval") < upper)
              }
            }.flatten
          }.getOrElse {
            // no usable mirror (nothing upserted at i-1, or the hull spans
            // too many directories): land any deferred write inline, then
            // read the level from disk with partition pruning
            flushDeferred()
            withCountCols(
              levelData(i - 1)
                .where(col("tb") >= lowerMin / bsHi && col("tb") <= (upper - 1) / bsHi &&
                  col("interval") >= lowerMin && col("interval") < upper), i - 1)
          }
          // localCheckpoint, NOT cache — the mirror's reasoning: the
          // lineage reads level i-1's pre-write files, which the deferred
          // write is about to replace.
          val propagated = frames.hold(withPartitionCols(
            Rollup
              .propagateTouchedCounted(higher,
                changed, steps(i - 1), steps(i), policy.aggregation, policy.xff),
            steps(i)).localCheckpoint())
          // one collect gives BOTH the empty check and the touched set the
          // upsert would otherwise rediscover with its own job
          val touchedP = propagated.select("pb", "tb").distinct().collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSet
          // the propagate is materialized: nothing left re-reads the files
          // the deferred write replaces
          launchDeferred()
          deferredMirror = None
          val propagatedAny = touchedP.nonEmpty
          val directN = directCounts.getOrElse(i, 0L)
          // Level i's incoming rows: direct writes (prio 2) merged with
          // propagated windows (prio 1) — DIRECT BEATS PROPAGATED:
          // file_update_many commits archives finest-first, so every
          // propagation INTO archive i (whisper.py:858-875) has landed when
          // archive i's own points overwrite the shared slot (pinned by
          // tools/DiffFuzz). Pre-merged so the fresh-level fast path never
          // sees duplicate slots; on a fresh level these rows are also the
          // in-memory mirror the next step reads.
          val incoming = {
            val propagatedRows = propagated.withColumn("prio", lit(1L))
            // a direct-written point at level i IS a single raw
            // observation: known=1, vsum=value
            def directRows = withPartitionCols(routed.where(col("level") === i)
              .select(col("metric"), col("interval"), col("value"),
                lit(1L).as("known"), col("value").as("vsum"), lit(2L).as("prio")), steps(i))
            if (directN == 0L) propagatedRows
            else if (!propagatedAny) directRows
            else
              highestPrio(directRows.unionByName(propagatedRows),
                Seq("metric", "interval", "pb", "tb")).withColumn("prio", lit(1L))
          }
          // no extra job: level i changed iff something propagated or it
          // took direct writes (known from the counts pass)
          changedNonEmpty = propagatedAny || directN > 0
          if (changedNonEmpty)
            runUpsert(i, steps(i), incoming, touchedP ++ directTouched.getOrElse(i, Set.empty))
          changed = propagated
            .select("metric", "interval")
            .unionByName(routed.where(col("level") === i).select("metric", "interval"))
          prevContent =
            if (freshLevels.contains(i))
              Some(incoming.select("metric", "interval", "value", "known", "vsum"))
            else None
          // the hull advances to its alignment merged with level-i
          // direct-write bounds
          bLo = math.min(lowerMin, directStats.get(i).map(_._2).getOrElse(Long.MaxValue))
          bHi = math.max(upper - steps(i), directStats.get(i).map(_._3).getOrElse(Long.MinValue))
          i += 1
        }
        // the deepest level's write has no further cascade reader — release
        // it to the pool (awaited just below)
        launchDeferred()
      } catch {
        case t: Throwable => bodyFailure = t; throw t
      } finally {
        // a write still held back when the cascade threw must land. All
        // failures below are COLLECTED, never thrown mid-finally (that
        // would mask the body's exception and skip the remaining awaits).
        val flushFailure =
          deferred.flatMap(t => scala.util.Try(t()).failed.toOption)
        deferred = None
        // deferred writes must land before callers (or the next policy
        // group in a heterogeneous batch) can read the store — and before
        // the frames backing them are released
        val writeFailures = pendingWrites.flatMap(f =>
          scala.util.Try(scala.concurrent.Await
            .result(f, scala.concurrent.duration.Duration.Inf)).failed.toOption)
        val failures = flushFailure.toSeq ++ writeFailures
        if (bodyFailure != null) failures.foreach(bodyFailure.addSuppressed)
        else failures.headOption.foreach { primary =>
          failures.drop(1).foreach(primary.addSuppressed)
          throw primary
        }
      }
    }

  /** whisper update() single-point semantics: rejects future timestamps
    * and ages ≥ maxRetention (whisper.py:693-696) — unlike updateMany's
    * silent drop.
    */
  def update(metric: String, value: Double, timestamp: Long, now: Long): Unit = {
    import spark.implicits._
    val policy = policyIn(policies(), metric)
    val diff = now - timestamp
    if (!(diff < policy.maxRetention && diff >= 0))
      throw new TimestampNotCovered(
        "Timestamp not covered by any archives in this database.")
    updateMany(Seq((metric, timestamp, value, 0L)).toDF("metric", "ts", "value", "seq"), now)
  }

  // ---- read path ------------------------------------------------------

  /** whisper fetch (whisper.py:892-1034): range-normalize, pick the
    * level, then one pruned scan — only the metric's (pb, tb) directories
    * over the range are read, filtered to the metric and the grid, and
    * the sparse (interval, value) rows collected in one job. The dense
    * slot vector is filled on the driver, as whisper builds its value
    * list in memory (whisper.py:1032-1034). [[fetchFrame]] is the
    * distributed dense-grid path.
    */
  def fetch(metric: String, fromTime: Long, untilTime: Long, now: Long,
            archiveToSelect: Option[Int] = None): Option[FetchResult] = {
    val policy = policyIn(policies(), metric)
    Fetch.planFetch(policy, fromTime, untilTime, now, archiveToSelect).map {
      case (level, from, until) =>
        val step = policy.levels(level).secondsPerPoint
        val (fromInterval, untilInterval) = Fetch.gridBounds(from, until, step)
        val values = Array.fill[Option[Double]](
          ((untilInterval - fromInterval) / step).toInt)(None)
        rangeRows(level, step, Seq(metric), fromInterval, untilInterval)
          .where(col("metric") === metric &&
            col("interval") >= fromInterval && col("interval") < untilInterval)
          .select("interval", "value")
          .collect()
          .foreach { r =>
            val off = r.getLong(0) - fromInterval
            // upsertRollups stores external intervals unaligned; an
            // off-grid row is no slot of the grid contract
            if (off % step == 0 && !r.isNullAt(1))
              values((off / step).toInt) = Some(r.getDouble(1))
          }
        FetchResult(fromInterval, untilInterval, step, values.toSeq)
    }
  }

  // ---- two-metric combinators (whisper merge/fill/diff, §2.1 #12-13) --

  private def requireSameConfig(a: String, b: String): RetentionPolicy = {
    val ps = policies()
    val (pa, pb) = (policyIn(ps, a), policyIn(ps, b))
    if (pa.levels != pb.levels)
      throw new UnsupportedOperationException(
        "db files must have the same archive configuration") // whisper.py:1054-1057
    pa
  }

  /** whisper merge: src overwrites dst at src's non-null slots, per level
    * (whisper.py:1051-1095). Implemented as a prio-1 upsert of src's rows
    * relabeled to dst.
    *
    * Reference clamp semantics (whisper.py:1062-1093): untilTime defaults
    * to `now`, fromTime to 0; inverted ranges raise; each archive clamps
    * fromTime to its own retention window and is skipped entirely when
    * untilTime predates it. The copied slot range is the archive-fetch
    * grid (alignDown(from)+step, alignDown(until)+step].
    */
  def mergeMetric(src: String, dst: String,
                  timeFrom: Option[Long] = None,
                  timeTo: Option[Long] = None,
                  now: Long = System.currentTimeMillis() / 1000): Unit = {
    val p = requireSameConfig(src, dst)
    val untilTime = timeTo.getOrElse(now)
    val fromTime = timeFrom.getOrElse(0L)
    // whisper.py:1073-1074 — a ValueError in the reference
    if (untilTime < fromTime)
      throw new IllegalArgumentException("time_to must be >= time_from")
    // whisper merge copies each archive independently: a window where
    // both metrics hold level-0 points gets src's rollup row but the
    // UNION of points — dst's levels stop being its level-0 cascade
    markRollupsDiverged()
    val dstPolicy = policies()(dst) // propagation uses DST's xff/method
    p.levels.zipWithIndex.foreach {
      case (lvl, i) =>
        val archiveFrom = math.max(fromTime, now - lvl.retention) // whisper.py:1081-1082
        if (untilTime >= now - lvl.retention) { // skip-too-old, whisper.py:1084-1085
          // __archive_fetch grid endpoints (whisper.py:970-976)
          val step = lvl.secondsPerPoint.toLong
          val lo = Grid.alignDown(archiveFrom, step) + step
          val hi0 = Grid.alignDown(untilTime, step) + step
          val hi = if (hi0 == lo) lo + step else hi0
          val clamped = col("metric") === src &&
            col("interval") >= lo && col("interval") < hi
          // counts travel with the copied rows (withCountCols keeps deep
          // levels' known/vsum; level 0 has none)
          val srcRows = withCountCols(levelData(i).where(clamped), i)
            .withColumn("metric", lit(dst))
            .withColumn("prio", lit(1L))
          // materialize the copied intervals BEFORE the upsert rewrites
          // this level's partitions (a post-upsert plan over the pre-upsert
          // listing reads deleted files); bounded by the archive's ring
          // capacity, like the reference's pointsToWrite (whisper.py:1087-1093)
          val srcIntervals = levelData(i).where(clamped)
            .select("interval").distinct().collect().map(_.getLong(0))
          if (srcIntervals.nonEmpty) {
            upsertLevel(i, lvl.secondsPerPoint, srcRows)
            // Reference merge PROPAGATES each archive's write into the
            // deeper archives before the next archive's direct copy
            // (whisper.py:1095 -> __archive_update_many:859-875): every
            // window of the MERGED dst content touched by the copied
            // points is re-consolidated with dst's kernel + xff, stopping
            // at the first level where no window passes; the next archive's
            // copy then overwrites these slots where src holds deep rows.
            // Touched windows at EVERY depth are re-fit from the ORIGINAL
            // copied intervals (whisper.py:866-869). Pinned by tools/DiffFuzz.
            val touched = spark
              .createDataset(srcIntervals.toSeq)(
                org.apache.spark.sql.Encoders.scalaLong)
              .toDF("interval")
              .withColumn("metric", lit(dst))
            var higherIdx = i
            var j = i + 1
            var continue = true
            while (continue && j < p.levels.size) {
              val hStep = p.levels(higherIdx).secondsPerPoint
              val lStep = p.levels(j).secondsPerPoint
              val passed = Rollup.propagateTouchedCounted(
                withCountCols(levelData(higherIdx)
                  .where(col("metric") === dst), higherIdx),
                touched, hStep, lStep,
                dstPolicy.aggregation, dstPolicy.xff)
              if (passed.isEmpty) continue = false
              else {
                upsertLevel(j, lStep, passed.withColumn("prio", lit(1L)))
                higherIdx = j
                j += 1
              }
            }
          }
        }
    }
  }

  /** bin/whisper-fill.py's whole-file reconciliation (`fill_archives` +
    * `fill`, bin/whisper-fill.py:52-121) re-expressed over graft's own
    * fetch/updateMany primitives — both differential-fuzz-pinned to the
    * executing reference — with an explicit `now` (the script reads
    * time.time() throughout). Reference quirks are kept deliberately,
    * because the CLI contract is the script's observable behavior:
    *
    *   - gap detection is Python-falsy (`if not v`,
    *     bin/whisper-fill.py:105): a stored 0.0 counts as a GAP and gets
    *     overwritten by src;
    *   - a gap [gapstart, start) copies src slots [gapstart, start] —
    *     INCLUDING the non-null slot that closed the gap, so src
    *     overwrites dst's boundary value there (bin/whisper-fill.py:110,
    *     113 pass `gapstart - step` as tstart and `start` as tstop, and
    *     the fetch grid is exclusive-from/inclusive-until);
    *   - single-slot interior gaps are skipped ("ignore single units
    *     lost", bin/whisper-fill.py:108-110), but a gap running to the
    *     window's last slot fills regardless of length;
    *   - copies go through update_many, so fills CASCADE into dst's
    *     coarser archives like any other ingest.
    *
    * The per-window gap walk collects one dense fetch per dst archive —
    * driver-sized, bounded by that archive's ring capacity, the same
    * bound as the reference's in-memory valueList (and as
    * [[mergeMetric]]'s copied-interval set).
    */
  def fillArchives(src: String, dst: String, startFrom0: Long, now: Long): Unit = {
    val pDst = policyIn(policies(), dst)
    var startFrom = startFrom0
    pDst.levels.foreach { lvl => // validated finest-first = retention asc
      val fromTime = now - lvl.retention
      if (fromTime < startFrom) {
        fetch(dst, fromTime, startFrom, now).foreach { r =>
          var start = r.fromInterval
          var gapstart = -1L
          r.values.foreach { v =>
            val truthy = v.exists(_ != 0.0) // Python falsy: None and 0.0 gap
            if (!truthy && gapstart < 0) gapstart = start
            else if (truthy && gapstart >= 0) {
              if (start - gapstart > lvl.secondsPerPoint)
                fillRange(src, dst, gapstart - r.step, start, now)
              gapstart = -1L
            } else if (gapstart >= 0 && start == r.untilInterval - r.step)
              fillRange(src, dst, gapstart - r.step, start, now)
            start += r.step
          }
        }
        startFrom = fromTime
      }
    }
  }

  /** One gap copy (`fill`, bin/whisper-fill.py:52-92): walk src's
    * archives finest-first, fetch [max(tstart, now − retention), tstop],
    * write the non-null points newest-first through [[updateMany]],
    * shrink tstop to the fetched range's start.
    */
  private def fillRange(src: String, dst: String, tstart: Long,
                        tstop0: Long, now: Long): Unit = {
    val pSrc = policyIn(policies(), src)
    val srcTime = now - pSrc.maxRetention
    if (tstart < srcTime && tstop0 < srcTime) return
    var tstop = tstop0
    val levels = pSrc.levels.iterator
    var done = false
    while (!done && levels.hasNext) {
      val lvl = levels.next()
      val rtime = now - lvl.retention
      if (tstop > rtime) { // archives fully past the range are skipped
        val untilTime = tstop
        val fromTime = if (rtime > tstart) rtime else tstart
        fetch(src, fromTime, untilTime, now).foreach { r =>
          val pts = r.values.zipWithIndex.collect {
            case (Some(v), i) => (r.fromInterval + i * r.step, v)
          }.sortBy(-_._1) // newest first (bin/whisper-fill.py:84-86)
          if (pts.nonEmpty) {
            import spark.implicits._
            updateMany(
              pts.zipWithIndex
                .map { case ((t, v), i) => (dst, t, v, i.toLong) }
                .toDF("metric", "ts", "value", "seq"),
              now)
          }
        }
        tstop = fromTime
        if (tstart == tstop) done = true
      }
    }
  }

  /** whisper-diff: per-level slots where two metrics disagree
    * (whisper.py:1098-1149), returned as (level, interval, value_a,
    * value_b) under the reference CLI's envelope: each archive compares
    * its fetch grid over [now − retention, untilTime], where untilTime
    * starts at the caller's until (or `now` — NOT clamped to now,
    * whisper.py:1120-1124) and
    * SHRINKS per archive to min(previous archive's startTime, untilTime)
    * (whisper.py:1148) — deeper archives only compare the range the finer
    * ones did not cover. The per-level `total` is the number of compared
    * slots AFTER the empty-slot filter (whisper.py:1140-1147: slots where
    * either side is non-null, or BOTH for ignore_empty), i.e. the "N of M
    * datapoints" denominator the CLI prints. Both semantics are pinned
    * against the executing reference by [[graft.tools.DiffFuzz]] (the
    * pre-r13 fixed-until, dense-grid-total variant diverged).
    */
  def diffMetricsDetail(a: String, b: String,
                        until: Option[Long] = None,
                        ignoreEmpty: Boolean = false,
                        now: Long = System.currentTimeMillis() / 1000)
      : (DataFrame, Seq[Long]) = {
    val p = requireSameConfig(a, b)
    var untilT = until.getOrElse(now)
    val perLevel = p.levels.zipWithIndex.map {
      case (lvl, i) =>
        val step = lvl.secondsPerPoint.toLong
        val startTime = now - lvl.retention
        // __archive_fetch grid endpoints (whisper.py:970-976): slots
        // [alignDown(start)+step, alignDown(until)+step), one slot min
        val lo = Grid.alignDown(startTime, step) + step
        val hi0 = Grid.alignDown(untilT, step) + step
        val hi = if (hi0 == lo) lo + step else hi0
        val clamp = col("interval") >= lo && col("interval") < hi
        val va = levelData(i).where(col("metric") === a && clamp)
          .select(lit(a).as("metric"), col("interval"), col("value"))
        val vb = levelData(i).where(col("metric") === b && clamp)
          .select(lit(a).as("metric"), col("interval"), col("value"))
        // compared-slot denominator: non-empty slots under the same scope
        // rule the diff rows use (one small full-outer count per level)
        val scoped = va.select(col("interval"), col("value").as("va"))
          .join(vb.select(col("interval"), col("value").as("vb")),
            Seq("interval"), "full_outer")
        val total =
          if (ignoreEmpty) scoped.where(col("va").isNotNull && col("vb").isNotNull).count()
          else scoped.where(col("va").isNotNull || col("vb").isNotNull).count()
        val d = Combine.diff(va, vb, ignoreEmpty = ignoreEmpty)
          .select(lit(i).as("level"), col("interval"),
            col("value_a"), col("value_b"))
        untilT = math.min(startTime, untilT) // whisper.py:1148
        (d, total)
    }
    (perLevel.map(_._1).reduce(_.unionByName(_)), perLevel.map(_._2))
  }

  /** find-corrupt-whisper-files analog: validate every policy row,
    * returning (metric, error) for unparseable/invalid ones.
    */
  def validateAll(): Seq[(String, String)] =
    meta.catalog.toSeq.sortBy(_._1).flatMap { case (m, row) =>
      scala.util.Try(Meta.policyOf(row)).failed.toOption.map(e => m -> e.getMessage)
    }

  /** contrib/whisper-auto-update analog: read-transform-write every slot
    * of a metric through a value expression (e.g. `_ * 2`).
    */
  def transformValues(metric: String, f: Column => Column): Unit = {
    val p = policyIn(policies(), metric)
    // per-level rewrites don't commute with the kernels (f(kernel(xs)) !=
    // kernel(f(xs)) in general), so levels stop being the level-0
    // cascade; and once level 0 is rewritten a deeper level's vsum is no
    // longer the sum of its level-0 points — one commit records both
    // before the first level is rewritten
    commitMeta(m => m.copy(derivedFromLevel0 = false,
      countsExact = m.countsExact && p.levels.size == 1))
    p.levels.zipWithIndex.foreach {
      case (lvl, i) =>
        val base = levelData(i).where(col("metric") === metric)
        // known survives (the transform moves values, not points) but
        // vsum is no longer the sum of the transformed level-0 points
        // unless f is linear — null it
        val rows =
          if (i == 0)
            base.select(col("metric"), col("interval"),
              f(col("value")).cast("double").as("value"), lit(1L).as("prio"))
          else
            withCountCols(base, i).select(col("metric"), col("interval"),
              f(col("value")).cast("double").as("value"),
              col("known"), lit(null).cast("double").as("vsum"), lit(1L).as("prio"))
        if (!rows.isEmpty) upsertLevel(i, lvl.secondsPerPoint, rows)
    }
  }

  /** Upsert externally-computed rollup rows (metric, interval, value,
    * optionally known/vsum) into level `level`, LWW over what is there —
    * the import surface for archives consolidated outside the store
    * (`WspSource` loads a .wsp file's coarse archives through it).
    */
  def upsertRollups(level: Int, rows: DataFrame): Unit = {
    val ps = policies()
    require(ps.nonEmpty, "no metrics created")
    require(ps.values.toSeq.distinct.size == 1,
      "external rollup upserts require a uniform policy (level step must be unambiguous)")
    val step = ps.values.head.levels(level).secondsPerPoint
    // external rows bypass the cascade: levels and level-0 can disagree
    markRollupsDiverged()
    // externally-computed rollups may carry their contribution counts;
    // without them a deep level's counts become unknown for good — record
    // that
    val withC =
      if (level == 0) rows.select(col("metric"), col("interval"), col("value"))
      else if (rows.columns.contains("known") && rows.columns.contains("vsum"))
        rows.select(col("metric"), col("interval"), col("value"),
          col("known").cast("long").as("known"), col("vsum").cast("double").as("vsum"))
      else {
        markCountsApprox()
        rows.select(col("metric"), col("interval"), col("value"),
          lit(null).cast("long").as("known"), lit(null).cast("double").as("vsum"))
      }
    upsertLevel(level, step, withC.withColumn("prio", lit(1L)))
  }

  /** Distributed fetch: the dense-grid contract as a DataFrame (metric,
    * interval, value) without collecting — for ranges too large for a
    * driver-side vector, and for multi-metric reads.
    */
  def fetchFrame(metrics: Seq[String], fromTime: Long, untilTime: Long,
                 now: Long, archiveToSelect: Option[Int] = None): Option[DataFrame] = {
    val ps = policies()
    val pols = metrics.map(policyIn(ps, _))
    if (pols.distinct.size > 1)
      throw new UnsupportedOperationException(
        "db files must have the same archive configuration") // whisper.py:1054-1057
    val policy = pols.headOption.getOrElse(
      throw new CorruptWhisperFile("Unknown metric", metrics.mkString(",")))
    Fetch.planFetch(policy, fromTime, untilTime, now, archiveToSelect).map {
      case (level, from, until) =>
        val step = policy.levels(level).secondsPerPoint
        val (fromInterval, untilInterval) = Fetch.gridBounds(from, until, step)
        // the same directory pruning as fetch: a k-metric fetch reads at
        // most k buckets per time bucket
        val pruned = rangeRows(level, step, metrics, fromInterval, untilInterval)
          .select("metric", "interval", "value")
        Fetch.fetchGrid(spark, pruned, metrics, from, until, step)
    }
  }

  /** SQL surface: expose each level as a temp view `<prefix>_level_i`
    * plus a `<prefix>_policies` view, so the whole store is queryable
    * with spark.sql.
    */
  def registerViews(prefix: String): Unit = {
    val ps = policies()
    if (ps.isEmpty) return
    ps.values.head.levels.indices.foreach { i =>
      levelData(i).select("metric", "interval", "value")
        .createOrReplaceTempView(s"${prefix}_level_$i")
    }
    import spark.implicits._
    meta.catalog.toSeq.sortBy(_._1)
      .map { case (m, (spec, xff, agg)) => (m, spec, xff, agg) }
      .toDF("metric", "spec", "xff", "aggregation")
      .createOrReplaceTempView(s"${prefix}_policies")
  }

  // ---- maintenance ----------------------------------------------------

  /** Ring eviction, done lazily. Uniform stores drop whole expired time
    * buckets — deleting directories (not rewriting data) keeps this
    * O(#partitions). Heterogeneous stores fall back to row-level
    * eviction: rewrite ONLY partitions that contain expired rows, with
    * per-metric cutoffs broadcast into the filter.
    *
    * Evicting LEVEL-0 buckets on a multi-level store clears
    * `derived_from_level0`: coarser archives retain LONGER
    * (whisper.py:100-113), so a substituted level scan would return
    * windows a level-0 re-aggregation can no longer produce — correct
    * FETCH behavior, but not the substitution rule's query-equivalence.
    * The flag is committed once, after the expired buckets are collected
    * and before the first is deleted, so an interrupted vacuum never
    * leaves the record claiming evicted rows.
    */
  def vacuum(now: Long): Unit = {
    val ps = policies()
    if (ps.isEmpty) return
    if (ps.values.toSeq.distinct.size == 1) {
      val policy = ps.values.head
      val expired = policy.levels.zipWithIndex.flatMap {
        case (lvl, i) =>
          val dir = new java.io.File(levelPath(i))
          val cutoffTb = (now - lvl.retention) / bucketSeconds(lvl.secondsPerPoint) - 1
          for {
            pbDir <- Option(dir.listFiles()).toSeq.flatten if pbDir.getName.startsWith("pb=")
            tbDir <- pbDir.listFiles().toSeq if tbDir.getName.startsWith("tb=")
            if tbDir.getName.stripPrefix("tb=").toLong < cutoffTb
          } yield (i, tbDir)
      }
      if (policy.levels.size > 1 && expired.exists(_._1 == 0)) markRollupsDiverged()
      expired.foreach { case (_, tbDir) =>
        deleteRecursively(tbDir)
        afterEviction(tbDir)
      }
    } else rowLevelVacuum(ps, now)
  }

  /** Test seam: runs after each bucket directory the uniform [[vacuum]]
    * deletes, so a spec can interrupt it mid-eviction.
    */
  private[graft] var afterEviction: java.io.File => Unit = _ => ()

  /** Heterogeneous-policy eviction (ROADMAP #4): per-metric retention
    * cutoffs joined (broadcast — the catalog is tiny) against each level;
    * only partitions holding at least one expired row are rewritten, and
    * partitions left with no rows are deleted outright. Cost is
    * proportional to the expiring frontier, not the table.
    */
  private def rowLevelVacuum(ps: Map[String, RetentionPolicy], now: Long): Unit = {
    import spark.implicits._
    val maxLevels = ps.values.map(_.levels.size).max
    (0 until maxLevels).foreach { i =>
      val dir = new java.io.File(levelPath(i))
      if (dir.exists()) {
        // a metric without this level has no rows here; MinValue keeps any
        // stragglers instead of silently dropping them through the join
        val cutoffDf = broadcast(ps.toSeq.map {
          case (m, p) if i < p.levels.size => (m, now - p.levels(i).retention)
          case (m, _) => (m, Long.MinValue)
        }.toDF("metric", "cutoff"))
        val data = levelData(i)
        val touched = data.join(cutoffDf, Seq("metric"))
          .where(col("interval") <= col("cutoff"))
          .select("pb", "tb").distinct().collect()
          // tb reads back as int or long depending on partition inference
          .map(r => (r.getInt(0), r.getAs[Number](1).longValue))
        if (touched.nonEmpty) Frames.scoped { frames =>
          // same reasoning as the uniform path: evicted level-0 windows
          // survive in coarser archives (defensive — substitution already
          // refuses heterogeneous stores, but the flag is the record)
          if (i == 0 && ps.values.exists(_.levels.size > 1))
            markRollupsDiverged()
          val touchedFilter = touched
            .map { case (p, t) => col("pb") === p && col("tb") === t }
            .reduce(_ || _)
          // localCheckpoint, NOT cache — the updateMany mirror's
          // reasoning: kept's lineage reads the very files the dynamic
          // overwrite below replaces
          val kept = frames.hold(data.where(touchedFilter)
            .join(cutoffDf, Seq("metric"))
            .where(col("interval") > col("cutoff"))
            .select(data.columns.map(col): _*) // all data cols incl. counts
            .localCheckpoint())
          val keptParts = kept.select("pb", "tb").distinct().collect()
            .map(r => (r.getInt(0), r.getAs[Number](1).longValue)).toSet
          if (keptParts.nonEmpty)
            writeLevel(i, kept, keptParts.map(_._1), clustered = false)
          // dynamic overwrite never touches now-empty partitions — drop them
          touched.filterNot(keptParts).foreach {
            case (p, t) =>
              deleteRecursively(new java.io.File(s"${levelPath(i)}/pb=$p/tb=$t"))
          }
        }
      }
    }
  }

  /** whisper-resize --aggregate (bin/whisper-resize.py:147-243) as a
    * store-level policy migration (the contrib/update-storage-times.py
    * fleet job): re-bin the finest-available points into the new finest
    * grid — xff denominator = number of OLD grid slots per new window
    * (whisper-resize.py:185-196: `len(non_none)/len(newvalues) >= xff`) —
    * cascade the coarser new levels, write a fresh store directory, then
    * atomically swap (whisper's .tmp/.bak rename, whisper-resize.py:211-225).
    */
  def resize(newPolicy: RetentionPolicy, now: Long): MetricStore = {
    val old = policies()
    require(old.nonEmpty, "no metrics created")
    require(old.values.toSeq.distinct.size == 1,
      "resize migrates the whole store to one policy; source must be uniform")
    val oldPolicy = old.values.head

    // finest-available point per timestamp, tagged with its source step
    // (whisper-resize.py:147-163: higher-precision archives win)
    val unioned = highestPrio(
      oldPolicy.levels.zipWithIndex
        .map {
          case (lvl, i) =>
            levelData(i).select("metric", "interval", "value")
              .withColumn("step", lit(lvl.secondsPerPoint.toLong))
              .withColumn("prio", lit(-i.toLong))
        }
        .reduce(_.unionByName(_)),
      Seq("metric", "interval"))

    // re-bin into the new finest grid; slots = old slots per new window
    // (upsampling → 1 slot, a lone point passes any xff)
    val s0 = newPolicy.levels.head.secondsPerPoint
    val slots = greatest(lit(s0.toLong) / min(col("step")), lit(1L))
    val level0 = unioned
      .groupBy(col("metric"), Grid.align(col("interval"), s0).as("interval"))
      .agg(
        Kernels.kernel(newPolicy.aggregation, col("value"), col("interval"), slots)
          .as("value"),
        count(col("value")).as("known"),
        slots.as("slots"))
      .where(Kernels.xffGate(col("known"), col("slots"), newPolicy.xff))
      .select("metric", "interval", "value")

    val tmpRoot = s"$root.tmp"
    MetricStore.deleteRecursively(new java.io.File(tmpRoot))
    val tmp = new MetricStore(spark, tmpRoot, effectiveBuckets)
    tmp.createAll(old.keys.toSeq, newPolicy)
    Rollup.cascade(level0, newPolicy).zip(newPolicy.levels).zipWithIndex.foreach {
      case ((df, lvl), i) =>
        tmp.upsertLevel(i, lvl.secondsPerPoint, df.withColumn("prio", lit(0L)))
    }

    val bak = new java.io.File(s"$root.bak")
    MetricStore.deleteRecursively(bak)
    new java.io.File(root).renameTo(bak)
    new java.io.File(tmpRoot).renameTo(new java.io.File(root))
    new MetricStore(spark, root, effectiveBuckets)
  }
}

object MetricStore {
  /** Bucket layout for NEW stores; existing stores keep theirs in the
    * manifest (see [[MetricStore.layout]]).
    */
  private[store] val DefaultBucketSlots: Long = 1024L

  /** [[MetricStore.writeLevel]] fans out one job per pb up to this many
    * pbs; past it the batch is data-bound and a single clustered write
    * wins (each per-pb job re-scans its input to filter its slice —
    * linear in pb count).
    */
  private[store] val MaxParallelPbWrites: Int = 16

  /** The store's one last-write-wins rule: per `keys` group the row with
    * the highest `prio` wins WHOLE — its data columns (all but the keys
    * and prio: value plus any count columns) move together as one struct
    * picked by max_by, so a level with known/vsum never mixes one row's
    * value with another's counts. Output: keys, then data columns.
    */
  private def highestPrio(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val dataCols = rows.columns.toSeq.filterNot((keys :+ "prio").contains)
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(dataCols.map(col): _*), col("prio")).as("w"))
      .select(keys.map(col) ++ dataCols.map(c => col(s"w.$c").as(c)): _*)
  }

  /** Shared pool for deferred fresh-level writes (daemon threads so a
    * forgotten store never blocks JVM exit). Sized small: each task is a
    * whole Spark write job — the parallelism that matters is between the
    * job and the caller's next cascade step, not among many writers.
    */
  private[store] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"metricstore-write-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))

  private val MetaFile = "_store"
  private val MetaVersion = 1

  /** The store's one metadata record (`_store`): key=value lines, then
    * one `metric\tspec\txff\taggregation` catalog row per metric.
    * Catalog rows stay raw so [[MetricStore.validateAll]] can report one
    * that does not parse; `policies` parses them once per record. An
    * absent layout key is stamped on first use ([[MetricStore.layout]]).
    */
  private[store] final case class Meta(
      bucketSlots: Option[Long], numBuckets: Option[Int],
      countsExact: Boolean, derivedFromLevel0: Boolean,
      catalog: Map[String, (String, Float, String)]) {
    lazy val policies: Map[String, RetentionPolicy] =
      catalog.map { case (m, row) => m -> Meta.policyOf(row) }

    def withPolicies(ps: Seq[(String, RetentionPolicy)]): Meta =
      copy(catalog = catalog ++ ps.map { case (m, p) =>
        m -> ((p.levels.map(a => s"${a.secondsPerPoint}:${a.points}").mkString(","),
          p.xff, p.aggregation.name))
      })

    def render: String =
      (Seq(s"version=$MetaVersion") ++ bucketSlots.map(v => s"bucket_slots=$v") ++
        numBuckets.map(v => s"num_buckets=$v") ++
        Seq(s"counts_exact=$countsExact", s"derived_from_level0=$derivedFromLevel0") ++
        catalog.toSeq.sortBy(_._1).map { case (m, (spec, xff, agg)) => s"$m\t$spec\t$xff\t$agg" }
      ).mkString("", "\n", "\n")
  }

  private[store] object Meta {
    def policyOf(row: (String, Float, String)): RetentionPolicy =
      RetentionPolicy(Retention.parseSchema(row._1), row._2, AggregationMethod.fromName(row._3))

    def parse(lines: Seq[String]): Meta = {
      val (rows, kvLines) = lines.partition(_.contains('\t'))
      val kv = parseKv(kvLines)
      if (kv.get("version").exists(_.toInt > MetaVersion))
        throw new InvalidConfiguration(
          s"$MetaFile version ${kv("version")} is newer than this reader's $MetaVersion")
      Meta(kv.get("bucket_slots").map(_.toLong), kv.get("num_buckets").map(_.toInt),
        kv.get("counts_exact").forall(_.toBoolean),
        kv.get("derived_from_level0").forall(_.toBoolean), parseCatalog(rows))
    }
  }

  // parsed records, keyed on `_store`'s (fileKey, mtime), and commit
  // locks, both per canonical store root
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (AnyRef, FileTime, Meta)]()
  private val metaLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** A metric's policy; whisper's error for a missing file otherwise. */
  private def policyIn(ps: Map[String, RetentionPolicy], metric: String): RetentionPolicy =
    ps.getOrElse(metric, throw new CorruptWhisperFile("Unknown metric", metric))

  private def parseKv(lines: Seq[String]): Map[String, String] =
    lines.flatMap { l =>
      l.trim.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _ => None
      }
    }.toMap

  private def parseCatalog(lines: Seq[String]): Map[String, (String, Float, String)] =
    lines.filter(_.nonEmpty).map { line =>
      val Array(m, spec, xff, agg) = line.split("\t", 4)
      m -> ((spec, xff.toFloat, agg))
    }.toMap

  // ---- migration from the pre-manifest metadata files ------------------

  private val LegacyMetaFiles =
    Seq("policies.tsv", "_layout", "_counts_approx", "_rollup_diverged")

  /** A pre-manifest store's record (empty when it has no legacy files):
    * its key=value layout lines and catalog rows are manifest lines
    * already, and each marker file is a cleared flag.
    */
  private def legacyMeta(root: String): Meta = {
    def path(n: String) = Paths.get(root, n)
    def lines(n: String): Seq[String] =
      if (Files.exists(path(n))) Files.readString(path(n)).linesIterator.toSeq else Nil
    Meta.parse(lines("_layout") ++ lines("policies.tsv") ++ Seq(
      s"counts_exact=${!Files.exists(path("_counts_approx"))}",
      s"derived_from_level0=${!Files.exists(path("_rollup_diverged"))}"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
