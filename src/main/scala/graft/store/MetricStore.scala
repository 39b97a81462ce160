package graft.store

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

/** The Spark-native analog of a whisper database directory: a policy
  * catalog plus one parquet table per resolution level, rows
  * (metric, interval, value).
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

  private def policiesPath = s"$root/policies.tsv"
  private def levelPath(i: Int) = s"$root/level_$i"

  // ---- policy catalog -------------------------------------------------

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

  /** `_layout` parsed as key=value lines. Legacy single-line files
    * (bucket_slots only) parse the same way.
    */
  private lazy val layoutKv: Map[String, String] = {
    val f = java.nio.file.Paths.get(s"$root/_layout")
    if (!java.nio.file.Files.exists(f)) Map.empty
    else java.nio.file.Files.readString(f).linesIterator.flatMap { l =>
      l.trim.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _ => None
      }
    }.toMap
  }

  /** Slots per time bucket, PERSISTED per store (`_layout`, stamped on
    * first open): tb values are baked into every partition directory
    * name, so a binary whose default differs from the store's layout
    * would otherwise silently prune every fetch to empty and write
    * duplicate rows under new tb dirs. A store predating the marker is
    * probed — one partition dir name + one row's interval decide which
    * historical layout produced it — and stamped with the result.
    */
  private lazy val bucketSlots: Long = {
    val f = java.nio.file.Paths.get(s"$root/_layout")
    def stamp(v: Long): Long = {
      val tmp = java.nio.file.Paths.get(s"$root/_layout.tmp")
      java.nio.file.Files.writeString(tmp,
        s"bucket_slots=$v\nnum_buckets=$numBuckets\n")
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      v
    }
    layoutKv.get("bucket_slots").map(_.toLong).getOrElse {
      if (!anyLevelDirExists) stamp(MetricStore.DefaultBucketSlots)
      else stamp(probeBucketSlots())
    }
  }

  /** Effective partition-bucket count, PERSISTED like bucketSlots: pb
    * values are baked into directory names as pmod(hash(metric), n), so
    * opening an 8-bucket store with the 32-bucket constructor default
    * would compute wrong buckets — silently mis-pruning every fetch,
    * vacuum selector, and substituted read, and splitting new writes
    * across two layouts. The persisted value wins; a legacy `_layout`
    * without the key keeps the constructor value (pre-existing
    * behavior, and those stores were always opened with their creating
    * bucket count in-repo).
    */
  lazy val effectiveBuckets: Int =
    layoutKv.get("num_buckets").map(_.toInt).getOrElse(numBuckets)

  /** True when ANY `level_i` directory exists — a pre-marker store whose
    * data lives only in coarse levels (e.g. a too-old backfill that never
    * touched level 0) must still be probed, not stamped with the default.
    */
  private def anyLevelDirExists: Boolean = {
    val dir = new java.io.File(root)
    val kids = dir.listFiles()
    kids != null && kids.exists(f => f.isDirectory && f.getName.startsWith("level_"))
  }

  /** Infer a pre-marker store's bucket layout from its own directories:
    * find one `level_i/pb=?/tb=N` partition (any level with data), read
    * one row's (metric, interval), resolve THAT metric's level-i step
    * from the catalog — per-metric policies can differ, so the sampled
    * row's own policy is the only sound denominator — and pick the
    * historical slot count whose `interval div (step·slots)` reproduces
    * N. Epoch-scale intervals separate the candidates by construction
    * (quotients coincide only near interval 0). A store with data whose
    * layout matches NO candidate is refused loudly: guessing would
    * silently mis-prune every fetch and double-write new dirs. A store
    * with no data rows anywhere stamps the current default (no dirs to
    * misread).
    */
  private def probeBucketSlots(): Long = {
    val candidates = Seq(MetricStore.DefaultBucketSlots, 8192L)
    val ps = policies()
    val sample = ps.values.headOption.flatMap { _ =>
      (0 until ps.values.map(_.levels.size).max).view.flatMap { i =>
        for {
          dir <- firstTbDir(levelPath(i))
          file <- firstParquetFile(dir)
          row <- spark.read.parquet(file).select("metric", "interval")
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
              "write _layout with the store's bucket_slots to open it"))
    }
  }

  /** First `tb=` partition directory under a level path, if any. */
  private def firstTbDir(level: String): Option[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(level)
    if (!java.nio.file.Files.isDirectory(root)) None
    else {
      val s = java.nio.file.Files.walk(root, 2)
      try {
        val d = s.filter(p => p.getFileName.toString.startsWith("tb="))
          .findFirst()
        if (d.isPresent) Some(d.get) else None
      } finally s.close()
    }
  }

  /** First parquet data file under a directory, if any (shared by the
    * layout probe and the count-column probe).
    */
  private def firstParquetFile(dir: java.nio.file.Path): Option[String] =
    if (!java.nio.file.Files.isDirectory(dir)) None
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        val p = s.filter(_.toString.endsWith(".parquet")).findFirst()
        if (p.isPresent) Some(p.get.toString) else None
      } finally s.close()
    }

  def policies(): Map[String, RetentionPolicy] =
    MetricStore.readCatalog(policiesPath).map {
      case (m, spec, xff, agg) =>
        m -> RetentionPolicy(
          Retention.parseSchema(spec), xff, AggregationMethod.fromName(agg))
    }.toMap

  /** The catalog is small metadata, so it is plain-file IO (whisper reads
    * headers directly too) — no Spark job per create/info/set. Writes are
    * atomic via tmp+rename, the whisper-resize swap trick.
    */
  private def writePolicies(ps: Map[String, RetentionPolicy]): Unit = {
    val rows = ps.toSeq.sortBy(_._1).map {
      case (m, p) =>
        val spec = p.levels.map(a => s"${a.secondsPerPoint}:${a.points}").mkString(",")
        s"$m\t$spec\t${p.xff}\t${p.aggregation.name}"
    }
    val tmp = java.nio.file.Paths.get(policiesPath + ".tmp")
    java.nio.file.Files.writeString(tmp, rows.mkString("\n"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(policiesPath),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** whisper create(): register a metric. Fails if it already exists
    * (whisper.py:501-502).
    */
  def create(metric: String, policy: RetentionPolicy): Unit =
    createAll(Seq(metric), policy)

  /** Batch registration: one catalog write for many metrics. */
  def createAll(metrics: Seq[String], policy: RetentionPolicy): Unit = {
    val ps = policies()
    metrics.find(ps.contains).foreach { m =>
      throw new InvalidConfiguration(s"File $m already exists!")
    }
    writePolicies(ps ++ metrics.map(_ -> policy))
  }

  /** whisper info() (whisper.py:878-889). */
  def info(metric: String): Option[(RetentionPolicy, Seq[Header.LevelInfo])] =
    policies().get(metric).map(p => (p, Header.infoRows(p)))

  /** setAggregationMethod/setXFilesFactor (whisper.py:331-388): policy
    * update returning the old value.
    */
  def setAggregationMethod(metric: String, m: AggregationMethod): AggregationMethod = {
    val ps = policies()
    val old = ps.getOrElse(metric, throw new CorruptWhisperFile("Unknown metric", metric))
    // whisper rewrites only the header: existing rollup rows keep the OLD
    // kernel, so levels stop matching a cascade under the new policy
    if (old.aggregation != m) markRollupsDiverged()
    writePolicies(ps + (metric -> old.copy(aggregation = m)))
    old.aggregation
  }

  def setXFilesFactor(metric: String, xff: Float): Float = {
    if (xff.isNaN || xff < 0 || xff > 1)
      throw new InvalidXFilesFactor(s"Invalid xFilesFactor $xff, not between 0 and 1")
    val ps = policies()
    val old = ps.getOrElse(metric, throw new CorruptWhisperFile("Unknown metric", metric))
    if (old.xff != xff) markRollupsDiverged() // row set was gated with the old xff
    writePolicies(ps + (metric -> old.copy(xff = xff)))
    old.xff
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
    * output; counts are extra derived columns, not a semantic change.
    *
    * Every CURRENT writer emits these columns, so partition-dir reads can
    * declare the schema and skip the schema-inference job a bare
    * `spark.read.parquet` runs — at scale, footer sampling over a large
    * touched set is pure waste.
    *
    * Whether the count columns are declared follows a ONE-FILE footer
    * probe, not blind assumption: declaring known/vsum over a level
    * written before the columns existed would read fabricated nulls and
    * defeat the legacy detection in [[withCountCols]] (which must see the
    * columns genuinely absent to mark the store counts-approx — the gate
    * RollupSubstitution.exactCounts relies on).
    */
  private def levelSchema(i: Int): org.apache.spark.sql.types.StructType =
    levelSchema(i, i > 0 && levelHasCountCols(i))

  private def levelSchema(i: Int, withCounts: Boolean): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val counts =
      if (!withCounts) Nil
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
    * re-probes; the marker is already set in that scenario.
    */
  private val levelCountsProbe =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()

  private def levelHasCountCols(i: Int): Boolean =
    levelCountsProbe.computeIfAbsent(i, _ => {
      val firstFile = firstParquetFile(java.nio.file.Paths.get(levelPath(i)))
      java.lang.Boolean.valueOf(firstFile.forall(f =>
        spark.read.parquet(f).schema.fieldNames.contains("vsum")))
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

  /** Cleared (marker file) when any level ≥ 1 receives rows whose counts
    * are unknown — external rollup upserts without counts, .wsp imports,
    * value transforms — so consumers that require exact counts (deep
    * Average substitution in RollupSubstitution) can tell. The store
    * stays fully functional either way.
    */
  private def approxMarker = new java.io.File(s"$root/_counts_approx")
  def countsExact: Boolean = !approxMarker.exists()
  private[graft] def markCountsApprox(): Unit = { approxMarker.createNewFile(); () }

  /** Set once any level's content can no longer be assumed to be the
    * pure cascade of the CURRENT level-0 table: points routed directly
    * into coarser archives (too old for the finer retentions,
    * whisper.py:767-784), external rollup upserts (which bypass the
    * cascade at ANY level), and value transforms (per-level rewrites
    * don't commute with the kernels). RollupSubstitution requires this
    * unset — replacing a level-0 aggregation with a level scan is only
    * sound while the level IS that aggregation. Store reads/writes are
    * unaffected either way.
    */
  private def divergedMarker = new java.io.File(s"$root/_rollup_diverged")
  def rollupsDerivedFromLevel0: Boolean = !divergedMarker.exists()
  private[graft] def markRollupsDiverged(): Unit = { divergedMarker.createNewFile(); () }

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
    *    every (pb, tb) directory sequentially on the driver — for a ~2 MB
    *    sf0.1 batch landing in ~130 dirs that was ~1.1 s of a 1.4 s write
    *    (WriteProbe (deleted probe, last commit e6b2e65): flat 32-file
    *    write 0.33 s, any partitionBy spelling 1.3–1.5 s regardless of
    *    codec/buffer knobs). So ONE JOB PER pb writes `pb=<p>/` with
    *    `partitionBy(tb)`: separate output roots mean separate staging and
    *    separate commits that overlap across jobs (WriteProbe: 1.38 s →
    *    0.64 s warm), with the same layout on disk. The `pb = p` filter is
    *    a partition predicate, so each job's touched-dir read prunes to
    *    its own pb.
    *  - **data-bound** (one pb, or many = real scale): one clustered
    *    write. Per-pb jobs would each re-scan their input to filter a
    *    slice — linear in pb count, for no commit win once data volume
    *    amortizes the commit.
    *
    * Fusing all fresh LEVELS into one commit instead lost ~1 s at sf0.1,
    * because it serialized the cascade behind the write (LayoutExperiment
    * (deleted probe, last commit 179af17): x00 2.0 s per-level vs 3.0 s
    * fused) — level writes keep overlapping the cascade through
    * [[MetricStore.writeEc]] futures, so the fan-out lives here, inside
    * the per-level write.
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
    // the fan-out wrote SUBDIRECTORY roots (pb=<p>), so Spark's
    // post-insert refresh invalidated only those paths — the session's
    // FileStatusCache can still hold the PARENT level listing from an
    // earlier read, and a later scan built from it hits the replaced
    // files (FAILED_READ_FILE.FILE_NOT_EXIST — surfaced intermittently
    // by RoundTripPropertySpec's second incremental batch). Single-root
    // writes don't need this: their own commit refreshes the root.
    spark.catalog.refreshByPath(levelPath(i))
  }

  /** Current on-disk rows of level i's touched (pb, tb) partitions.
    * Reads ONLY those partition directories: going through the root path
    * would list the entire level (every pb/tb directory) just to prune
    * it again — at scale that listing alone dwarfs the actual work of a
    * small batch. basePath keeps pb/tb as partition columns.
    *
    * Past `parallelPartitionDiscovery.threshold` paths, one read lists
    * them in a Spark job with a task per path — dearer than the scan
    * itself on a local store — so the directories are read in groups of
    * at most that many and unioned: the listing stays on the driver and
    * the scans still run in one job.
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
    * A side missing the count columns contributes nulls — and flips the
    * store to counts-approx, since those rows' counts are genuinely
    * unknown from here on.
    */
  private def mergedTouched(i: Int, newPts: DataFrame,
                            touched: Set[(Int, Long)]): DataFrame = {
    val existing = existingTouched(i, touched).withColumn("prio", lit(-1L))
    if (i > 0 && existing.columns.contains("vsum") != newPts.columns.contains("vsum"))
      markCountsApprox()
    // Cluster by the PHYSICAL partition keys before merging: (metric,
    // interval) determine (pb, tb), so hash-partitioning on (pb, tb)
    // already co-locates every merge group — the merge then runs
    // without its own exchange AND the output arrives pre-clustered for
    // the partitionBy(pb, tb) write. Merge + write share ONE shuffle
    // where the merge-then-repartition order paid two.
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
  def updateMany(batch: DataFrame, now: Long): Unit =
    updateMany(batch, now, cascade = true)

  /** `cascade = false` writes ONLY the finest level — for deployments
    * whose coarse levels are maintained externally, i.e. the streaming
    * refinement path ([[graft.streaming.StreamingIngest.startMixed]]):
    * stateful queries upsert every coarse level from the raw stream, so
    * cascading here would re-derive the same windows a second time per
    * batch. Consequences the caller accepts:
    *
    *   - rollups are marked DIVERGED (substitution refuses — the
    *     externally-maintained levels are recomputes of the stream, not
    *     the cascade of level 0, and the stateful watermark may drop
    *     what the batch path would keep);
    *   - points too old for the finest archive FAIL-STOP instead of
    *     routing to a coarser one (they would need exactly the skipped
    *     cascade; they are also beyond any sane stateful watermark —
    *     route ancient backfill through the cascade path instead).
    */
  def updateMany(batch: DataFrame, now: Long, cascade: Boolean): Unit = {
    val ps = policies()
    require(ps.nonEmpty, "no metrics created")
    // heterogeneous policies: one routed ingest per distinct policy shape
    // (policy count is small; each group's cascade is its own job chain)
    ps.values.toSeq.distinct match {
      case Seq(single) => updateManyForPolicy(batch, single, now, cascade)
      case multiple =>
        multiple.foreach { policy =>
          val metrics = ps.collect { case (m, p) if p == policy => m }.toSeq
          updateManyForPolicy(
            batch.where(col("metric").isin(metrics: _*)), policy, now, cascade)
        }
    }
  }

  // The routed cache and the mirror/propagated cuts are released
  // ([[Frames]]) after the finally below has awaited every write.
  private def updateManyForPolicy(batch: DataFrame, policy: RetentionPolicy,
                                  now: Long, cascade: Boolean = true): Unit =
    Frames.scoped { frames =>
      val routed = frames.hold(Ingest.routeAndDedup(batch, policy, now).cache())
      // Writes are taken off the cascade's critical path:
      //  - FRESH levels (bulk load): the cascade reads the in-memory
      //    prevContent mirror, never the just-written files, so their
      //    writes go straight to the background pool;
      //  - NON-FRESH levels (incremental): the next step reads this
      //    level's post-upsert state through a merged MIRROR (pre-write
      //    disk rows LWW incoming) plus the untouched hull partitions, so
      //    the write is deferred one cascade step and launched in the
      //    background once that reader has materialized (it must see the
      //    PRE-write files).
      // Everything is awaited before updateMany returns.
      val pendingWrites = scala.collection.mutable.Buffer.empty[scala.concurrent.Future[Unit]]
      // deferred-write slot (at most one held back at a time — the previous
      // level's); declared here so the finally block can land it even when
      // the cascade throws mid-loop (otherwise that level's upsert would be
      // silently dropped while earlier levels committed)
      var deferred: Option[() => Unit] = None
      // (level, post-upsert mirror of touched partitions, touched set)
      var deferredMirror: Option[(Int, DataFrame, Set[(Int, Long)])] = None
      var bodyFailure: Throwable = null
      try {
        val steps = policy.levels.map(_.secondsPerPoint)

        // ONE pass over the routed cache, at (level, pb, tb) granularity,
        // yields everything the whole ingest needs to plan: which levels
        // have direct writes, their touched partitions (for the upsert
        // reads), and their interval bounds (for the cascade's pruning) —
        // one driver job where a naive version runs count/touched/isEmpty
        // jobs per level.
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
        // see the public overload's contract: coarse-routed points need the
        // very cascade being skipped — fail-stop BEFORE any side effect
        // (marking diverged for a batch that then writes nothing would
        // permanently disable substitution on an untouched store)
        if (!cascade && directStats.exists { case (l, (n, _, _)) => l >= 1 && n > 0 })
          throw new IllegalArgumentException(
            "cascade=false but the batch contains points too old for the " +
              "finest archive; ingest them through the cascade path")
        // points landing directly in a coarser archive are invisible to
        // level-0 aggregations — rollup substitution is no longer sound
        if (directStats.exists { case (l, (n, _, _)) => l >= 1 && n > 0 })
          markRollupsDiverged()
        if (!cascade && policy.levels.size > 1) markRollupsDiverged()
        val directTouched: Map[Int, Set[(Int, Long)]] = partStats
          .groupBy(_._1)
          .map { case (lvl, rows) => lvl -> rows.map(r => (r._2, r._3)).toSet }
        val directCounts: Map[Int, Long] = directStats.map { case (k, v) => k -> v._1 }

        // levels that did not exist before this batch: after their writes,
        // the on-disk content IS the in-memory frame we are holding, so the
        // cascade can skip the parquet round trip (the initial-bulk-load
        // case — w20/x00 — where every level is fresh)
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
            // build the post-upsert mirror ONCE and share it between the
            // cascade's deferred-write reader and the write itself:
            // upsertLevel would re-read and re-merge the same touched
            // partitions the mirror already merged — the incremental
            // path paid that twice per level.
            //
            // localCheckpoint, NOT cache: the mirror's lineage reads the
            // level's pre-write partition directories, and every
            // insert-overwrite commit auto-recaches (RE-EXECUTES,
            // re-LISTS) cached plans matching the written path — with
            // the per-pb write futures running concurrently, one pb
            // job's post-commit recache could re-list a SIBLING pb's
            // directory mid-overwrite and fail-stop the batch ("Invalid
            // directory or I/O error", one-in-N under the full-surface
            // run; w22's streaming ingest surfaced it). The eager
            // checkpoint cuts the disk lineage on the main thread
            // BEFORE any write launches, so no cached plan references
            // level paths during the writes: the recache storm, the
            // replaced-file recompute caveat, and the eviction-loss
            // recompute all become structurally impossible.
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
        // whisper cascades from every archive that received points, not
        // just archive 0 (each __archive_update_many call propagates its
        // own points downward, whisper.py:858-875). Stops when a level
        // neither propagates nor received direct writes (the bulk early
        // exit, whisper.py:868-875).
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
        // keep cascading while the previous level changed OR any deeper
        // level still holds unpropagated direct writes — whisper cascades
        // from EVERY archive that received points (whisper.py:858-875), so
        // a batch landing only in coarse archives must still roll up
        while (cascade && i < steps.length &&
          (changedNonEmpty || directStats.exists { case (l, (n, _, _)) => l >= i && n > 0 })) {
          // Partition-prune the higher-level read down to the change hull
          // BEFORE the semi join: an incremental batch reads only the time
          // buckets it touches — at 100 TB the difference between scanning
          // gigabytes and the whole table. The interval predicate
          // additionally reaches parquet row-group min/max pruning inside
          // each bucket.
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
          // localCheckpoint, NOT cache — the mirror's reasoning verbatim:
          // propagated's lineage reads level i-1's pre-write files, and a
          // cached plan with that lineage is re-executed (re-listed) by
          // every concurrent write commit's auto-recache and re-read by
          // any block-loss recompute AFTER the write replaced those files.
          // The eager checkpoint severs the disk lineage here, on the main
          // thread, before the deferred write launches.
          val propagated = frames.hold(withPartitionCols(
            Rollup
              .propagateTouchedCounted(higher,
                changed, steps(i - 1), steps(i), policy.aggregation, policy.xff),
            steps(i)).localCheckpoint())
          // one collect gives BOTH the empty check and the touched set the
          // upsert would otherwise rediscover with its own job
          val touchedP = propagated.select("pb", "tb").distinct().collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSet
          // the propagate (and its read of level i-1's pre-write files) is
          // materialized in the checkpoint — the deferred write can now
          // land in the background with nothing left able to re-read the
          // files it replaces.
          launchDeferred()
          deferredMirror = None
          val propagatedAny = touchedP.nonEmpty
          val directN = directCounts.getOrElse(i, 0L)
          // Level i's incoming rows: direct writes (prio 2) merged with
          // propagated windows (prio 1) — DIRECT BEATS PROPAGATED within a
          // batch: file_update_many commits archives finest-first, so by
          // the time archive i's own points are written, every
          // propagation INTO archive i (the finer archives' chains,
          // whisper.py:858-875) has already landed, and the direct write
          // physically overwrites the shared slot. (The pre-r13 spelling
          // had this backwards — caught by tools/DiffFuzz on batches whose
          // deep-direct points share a window with finer points; the
          // reference kept the raw point, graft kept the rollup.)
          // Pre-merged when both exist so the fresh-level fast path
          // (which skips merging) never sees duplicate slots. ONE upsert
          // per level writes them, and on a fresh level their data
          // columns are also the in-memory mirror the next step reads.
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
        // a write still held back when the cascade threw must land (its
        // level's data is otherwise lost). All failures below are COLLECTED,
        // never thrown mid-finally: an Await that throws would mask the
        // body's exception and skip the remaining awaits.
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
    val policy = policies().getOrElse(
      metric, throw new CorruptWhisperFile("Unknown metric", metric))
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
    val policy = policies().getOrElse(
      metric, throw new CorruptWhisperFile("Unknown metric", metric))
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
    val (pa, pb) = (
      ps.getOrElse(a, throw new CorruptWhisperFile("Unknown metric", a)),
      ps.getOrElse(b, throw new CorruptWhisperFile("Unknown metric", b)))
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
          // this level's partitions (a post-upsert plan over the pre-
          // upsert file listing reads deleted files). Driver-sized: the
          // set is bounded by the archive's ring capacity — the same
          // bound the reference's in-memory pointsToWrite list has
          // (whisper.py:1087-1093).
          val srcIntervals = levelData(i).where(clamped)
            .select("interval").distinct().collect().map(_.getLong(0))
          if (srcIntervals.nonEmpty) {
            upsertLevel(i, lvl.secondsPerPoint, srcRows)
            // Reference merge PROPAGATES each archive's write into the
            // deeper archives before the next archive's direct copy
            // (whisper.py:1095 -> __archive_update_many:859-875): every
            // window of the MERGED dst content touched by the copied
            // points is re-consolidated with dst's kernel + xff, stopping
            // at the first level where no window passes. The next outer
            // iteration's direct copy then overwrites these propagated
            // slots wherever src holds deep rows (later upsert wins,
            // prio 1 over existing -1) — the same write order as the
            // reference. Touched windows for EVERY depth are re-fit from
            // the ORIGINAL copied intervals (whisper.py:866-869).
            // Pinned against the executing reference by tools/DiffFuzz:
            // the pre-r13 copy-only merge left merged-but-uncascaded
            // windows stale on the deep archives.
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

  /** whisper-fill: src fills ONLY dst's empty slots, never overwrites
    * (bin/whisper-fill.py:52-92). Same upsert with prio BELOW existing
    * rows (-2 < -1): last-write-wins keeps dst wherever it has data.
    */
  def fillMetric(dst: String, src: String): Unit = {
    val p = requireSameConfig(src, dst)
    markRollupsDiverged() // per-level copy, same reason as mergeMetric
    p.levels.zipWithIndex.foreach {
      case (lvl, i) =>
        val srcRows = withCountCols(levelData(i).where(col("metric") === src), i)
          .withColumn("metric", lit(dst))
          .withColumn("prio", lit(-2L))
        if (!srcRows.isEmpty) upsertLevel(i, lvl.secondsPerPoint, srcRows)
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
    *     coarser archives like any other ingest — unlike [[fillMetric]]'s
    *     per-level store copy, which never re-aggregates.
    *
    * The per-window gap walk collects one dense fetch per dst archive —
    * driver-sized, bounded by that archive's ring capacity, the same
    * bound as the reference's in-memory valueList (and as
    * [[mergeMetric]]'s copied-interval set).
    */
  def fillArchives(src: String, dst: String, startFrom0: Long, now: Long): Unit = {
    val pDst = policies().getOrElse(dst,
      throw new CorruptWhisperFile("Unknown metric", dst))
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
    val pSrc = policies().getOrElse(src,
      throw new CorruptWhisperFile("Unknown metric", src))
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
    * (whisper.py:1098-1149). Returns (level, interval, value_a, value_b).
    */
  def diffMetrics(a: String, b: String): DataFrame = {
    val p = requireSameConfig(a, b)
    p.levels.indices
      .map { i =>
        val va = levelData(i).where(col("metric") === a)
          .select(lit(a).as("metric"), col("interval"), col("value"))
        val vb = levelData(i).where(col("metric") === b)
          .select(lit(a).as("metric"), col("interval"), col("value"))
        Combine.diff(va, vb).select(lit(i).as("level"), col("interval"),
          col("value_a"), col("value_b"))
      }
      .reduce(_.unionByName(_))
  }

  /** [[diffMetrics]] with the reference CLI's envelope (whisper.py:
    * 1105-1149): each archive compares its fetch grid over
    * [now − retention, untilTime], where untilTime starts at the caller's
    * until (or `now` — NOT clamped to now, whisper.py:1120-1124) and
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
  def validateAll(): Seq[(String, String)] = {
    MetricStore.readCatalog(policiesPath).flatMap {
      case (m, spec, xff, agg) =>
        try {
          RetentionPolicy(Retention.parseSchema(spec), xff,
            AggregationMethod.fromName(agg))
          None
        } catch { case e: Throwable => Some(m -> e.getMessage) }
    }
  }

  /** contrib/whisper-auto-update analog: read-transform-write every slot
    * of a metric through a value expression (e.g. `_ * 2`).
    */
  def transformValues(metric: String, f: Column => Column): Unit = {
    val p = policies().getOrElse(
      metric, throw new CorruptWhisperFile("Unknown metric", metric))
    // per-level rewrites don't commute with the kernels (f(kernel(xs)) !=
    // kernel(f(xs)) in general), so levels stop being the level-0 cascade
    markRollupsDiverged()
    p.levels.zipWithIndex.foreach {
      case (lvl, i) =>
        val base = levelData(i).where(col("metric") === metric)
        // known survives (the transform moves values, not points) but
        // vsum is no longer the sum of the transformed level-0 points
        // unless f is linear — null it and drop exactness
        val rows =
          if (i == 0)
            base.select(col("metric"), col("interval"),
              f(col("value")).cast("double").as("value"), lit(1L).as("prio"))
          else {
            markCountsApprox()
            withCountCols(base, i)
              .select(col("metric"), col("interval"),
                f(col("value")).cast("double").as("value"),
                col("known"), lit(null).cast("double").as("vsum"), lit(1L).as("prio"))
          }
        if (!rows.isEmpty) upsertLevel(i, lvl.secondsPerPoint, rows)
    }
  }

  /** Streaming-sink surface: upsert externally-computed rollup rows
    * (metric, interval, value) into level `i` — the foreachBatch target
    * for `StreamingIngest.startStateful`, where provisional window values
    * refine in place as slots arrive (repeated upserts, LWW).
    */
  def upsertRollups(level: Int, rows: DataFrame): Unit = {
    val ps = policies()
    require(ps.nonEmpty, "no metrics created")
    require(ps.values.toSeq.distinct.size == 1,
      "external rollup upserts require a uniform policy (level step must be unambiguous)")
    val step = ps.values.head.levels(level).secondsPerPoint
    // external rows bypass the cascade: levels and level-0 can disagree
    markRollupsDiverged()
    // externally-computed rollups may carry their contribution counts
    // (StreamingIngest does); without them a deep level's counts become
    // unknown for good — record that
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
    val pols = metrics.map(m =>
      ps.getOrElse(m, throw new CorruptWhisperFile("Unknown metric", m)))
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
    ps.toSeq.sortBy(_._1)
      .map { case (m, p) =>
        (m, p.levels.map(a => s"${a.secondsPerPoint}:${a.points}").mkString(","),
          p.xff, p.aggregation.name)
      }
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
    * Evicting LEVEL-0 buckets on a multi-level store marks rollups
    * diverged: whisper's archive invariant (coarser archives retain
    * LONGER, whisper.py:100-113) means every evicted level-0 window is
    * still covered by some coarse level — a substituted level scan would
    * return windows a level-0 re-aggregation can no longer produce.
    * That is correct FETCH behavior (serving old ranges from coarse
    * archives is the point of retention tiers) but breaks the
    * substitution rule's claimed query-equivalence, so the rule must
    * refuse from then on.
    */
  def vacuum(now: Long): Unit = {
    val ps = policies()
    if (ps.isEmpty) return
    if (ps.values.toSeq.distinct.size == 1) {
      val policy = ps.values.head
      policy.levels.zipWithIndex.foreach {
        case (lvl, i) =>
          val dir = new java.io.File(levelPath(i))
          if (dir.exists()) {
            val cutoffTb = (now - lvl.retention) / bucketSeconds(lvl.secondsPerPoint) - 1
            dir.listFiles().filter(_.getName.startsWith("pb=")).foreach { pbDir =>
              pbDir.listFiles().filter(_.getName.startsWith("tb=")).foreach { tbDir =>
                val tb = tbDir.getName.stripPrefix("tb=").toLong
                if (tb < cutoffTb) {
                  deleteRecursively(tbDir)
                  if (i == 0 && policy.levels.size > 1) markRollupsDiverged()
                }
              }
            }
          }
      }
    } else rowLevelVacuum(ps, now)
  }

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
          // refuses heterogeneous stores, but the marker is the record)
          if (i == 0 && ps.values.exists(_.levels.size > 1))
            markRollupsDiverged()
          val touchedFilter = touched
            .map { case (p, t) => col("pb") === p && col("tb") === t }
            .reduce(_ || _)
          // localCheckpoint, NOT cache — the updateMany mirror's
          // reasoning: kept's lineage reads the very files the dynamic
          // overwrite below replaces, and the commit's auto-recache
          // re-executes any cached plan matching the written path
          // against the replaced files. The eager checkpoint severs the
          // disk lineage before the write; the scope releases its
          // blocks once the overwrite has landed.
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
    old.keys.foreach(m => tmp.create(m, newPolicy))
    Rollup.cascade(level0, newPolicy).zip(newPolicy.levels).zipWithIndex.foreach {
      case ((df, lvl), i) =>
        tmp.upsertLevel(i, lvl.secondsPerPoint,
          df.withColumn("prio", lit(0L)))
    }

    val bak = new java.io.File(s"$root.bak")
    MetricStore.deleteRecursively(bak)
    new java.io.File(root).renameTo(bak)
    new java.io.File(tmpRoot).renameTo(new java.io.File(root))
    new MetricStore(spark, root, effectiveBuckets)
  }
}

object MetricStore {
  /** Current bucket layout for NEW stores; existing stores read theirs
    * from the persisted `_layout` marker (see [[MetricStore.bucketSlots]]).
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

  /** Raw catalog rows (metric, spec, xff, aggregation). */
  private[store] def readCatalog(path: String): Seq[(String, String, Float, String)] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) Nil
    else
      java.nio.file.Files.readString(f).split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(m, spec, xff, agg) = line.split("\t", 4)
        (m, spec, xff.toFloat, agg)
      }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
