package graft.ext

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Compaction for the `seg=`-partitioned parquet tables the incremental
  * indexes accrete ([[MinHashIndex.append]], [[Similarity.appendIvfIndex]],
  * [[Similarity.appendPqIndex]]): fold named segments into the base
  * segment so partition listing and file counts stay bounded by
  * compaction cadence, not stream age. Whisper's analog is the ring
  * buffer's fixed file count (reference `whisper.py:479-550` — storage
  * never fragments); a segment-per-micro-batch index needs an explicit
  * fold to make the same promise.
  *
  * Protocol: read base ∪ folds, write the merged rows to a dot-prefixed
  * sibling staging dir (invisible to Spark's file listing), delete the
  * folded partition dirs, then rename staging into place as the new base
  * — one parquet rewrite of (base + folds), zero rewrites of unfolded
  * segments. Run it QUIESCED (between micro-batches / with the stream
  * stopped): the delete→rename window is not atomic for concurrent
  * readers, matching the maintenance-op contract of
  * [[graft.store.MetricStore.resize]]'s swap.
  *
  * Replay safety is the CALLER's contract: never fold a segment a
  * restarted stream could replay (fold only batches strictly older than
  * the checkpoint's newest commit — [[foldable]] is that rule, and
  * [[SegmentedIndex.compactCommitted]] applies it). A replayed batch
  * excludes its OWN segment when it re-reads the index; folding that
  * segment into base would un-hide it and flip the replay's verdicts.
  */
private[graft] object SegmentedTable {

  /** Fold `folds` partition directories of `tableDir` into `partCol=baseVal`.
    *
    * @param cols data columns to carry (the partition column is dropped —
    *             folded rows become base rows)
    * @param subPartition sub-partition columns WITHIN each segment (e.g.
    *             [[SemanticIndex]]'s `cell=` dirs) — columns listed here
    *             must also appear in `cols`, and the folded base is
    *             rewritten with the same sub-layout so directory pruning
    *             keeps working after the fold
    * @return the segment values actually folded (missing ones are
    *         skipped; never includes `baseVal`)
    */
  def compact(spark: SparkSession, tableDir: String, partCol: String,
              baseVal: String, folds: Seq[String], cols: Seq[String],
              subPartition: Seq[String] = Nil): Seq[String] = {
    val dir = new File(tableDir)
    val present = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .map(_.getName.stripPrefix(s"$partCol="))
      .toSet
    val toFold = folds.distinct.filter(s => s != baseVal && present.contains(s))
    if (toFold.isEmpty) return Nil

    val live = (if (present.contains(baseVal)) baseVal +: toFold else toFold)
    val merged = spark.read.parquet(tableDir)
      .where(col(partCol).isin(live.map(x => x: Any): _*))
      .select(cols.map(col): _*)
    val staging = new File(dir.getParentFile, s".compact-${dir.getName}")
    deleteRecursively(staging)
    val writer =
      if (subPartition.isEmpty) merged.write
      // cluster by the sub-partition columns first: an unclustered
      // partitionBy write emits tasks × values files (see the
      // SemanticIndex.append comment) — the fold exists to SHRINK file
      // counts, so its own write must be one file per value
      else merged.repartition(subPartition.map(col): _*)
        .write.partitionBy(subPartition: _*)
    writer.mode("overwrite").parquet(staging.toString)

    live.foreach(s => deleteRecursively(new File(dir, s"$partCol=$s")))
    Files.move(staging.toPath, new File(dir, s"$partCol=$baseVal").toPath)
    refreshParent(spark, tableDir)
    toFold
  }

  /** Invalidate any cached file listing of `dir` — REQUIRED after an
    * overwrite (or filesystem move) of a SUBDIRECTORY root (`seg=<s>`,
    * `pb=<p>`): Spark's post-insert refresh covers only the written
    * subpath, while readers scan the PARENT, so a replayed-segment
    * rewrite otherwise leaves the session's FileStatusCache pointing at
    * deleted files (FAILED_READ_FILE.FILE_NOT_EXIST — the intermittent
    * RoundTripPropertySpec failure that exposed this for the store's
    * per-pb fan-out; the index appends share the hazard on replay).
    */
  def refreshParent(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir)

  /** Batch ids with a commit file in a structured-streaming checkpoint —
    * the set that can never be replayed (foreachBatch re-runs only the
    * batch whose offsets were logged but whose commit was not).
    */
  def committedBatches(checkpoint: String): Seq[Long] =
    Option(new File(checkpoint, "commits").listFiles).getOrElse(Array.empty[File])
      .map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .sorted
      .toSeq

  /** The replay-safe fold boundary: every `b<batchId>` segment strictly
    * older than the checkpoint's newest commit. The newest commit's
    * segment stays unfolded as insurance, and any batch after it may
    * still be replayed (its replay excludes its own segment — which must
    * therefore still exist as a segment, not as folded base rows).
    */
  def foldable(checkpoint: String): Seq[String] = {
    val committed = committedBatches(checkpoint)
    if (committed.size < 2) Nil else committed.init.map(b => s"b$b")
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Parse an index's `_params` key=value file — the ONE parser every
    * persisted-index `load` shares (there were six identical copies;
    * a new index type gets this right for free).
    */
  def readParams(path: String): Map[String, String] =
    new String(Files.readAllBytes(java.nio.file.Paths.get(path, "_params")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains("="))
      .map { l => val Array(a, b) = l.split("=", 2); (a.trim, b.trim) }
      .toMap
}

/** An index persisted as `seg=`-partitioned tables under `path`, whose
  * [[compact]] folds named segments into `base` — every streaming dedup
  * index. Its stream-side fold is [[compactCommitted]], defined once here
  * over the [[SegmentedTable.foldable]] boundary.
  */
trait SegmentedIndex {
  def spark: SparkSession
  def path: String

  /** Fold appended segments into `base`; returns the segments folded. */
  def compact(folds: Seq[String]): Seq[String]

  /** Fold every `b<batchId>` segment strictly older than the checkpoint's
    * newest committed batch ([[SegmentedTable.foldable]]).
    */
  def compactCommitted(checkpoint: String): Seq[String] =
    compact(SegmentedTable.foldable(checkpoint))
}

/** A [[SegmentedIndex]] that can carry per-document priorities: a
  * `prio/seg=<s>/` (id, prio) table whose lifecycle mirrors the index's
  * other tables (overwrite-per-segment appends, folded by compact). The
  * priority table feeds the streaming (priority, id) keeper election
  * ([[Dedup.crossKeepers]]); lower wins, and a missing priority is
  * stored as [[Dedup.prioRank]]'s loser value.
  */
trait PrioritizedIndex extends SegmentedIndex {

  /** Whether this index carries priorities (built with `prioCol`).
    * Directory presence is the marker, the Bloom-sidecar lifecycle
    * precedent ([[FingerprintIndex]]).
    */
  def hasPriorities: Boolean = new File(path, "prio").isDirectory

  /** The indexed documents' priorities (id, prio). Only meaningful when
    * [[hasPriorities]]; a replaying batch passes its own segment as
    * `excludeSeg`, like every other index read.
    */
  def priorities(excludeSeg: Option[String] = None): DataFrame = {
    val raw = spark.read.parquet(s"$path/prio")
    excludeSeg.fold(raw)(s => raw.where(col("seg") =!= s))
      .select(col("id"), col("prio"))
  }

  /** A stream that elects by priority needs an index built with them. */
  def requirePriorities(prioCol: Option[String]): Unit =
    prioCol.foreach(_ => require(hasPriorities,
      s"prioCol is set but the index at $path was built without " +
        s"priorities (${getClass.getSimpleName}.build prioCol)"))

  /** Write segment `seg` of the priority table when the index carries
    * one. A priority-less append into a prioritized index stores the
    * loser value — those docs lose every future election rather than
    * silently winning.
    */
  protected def appendPriorities(docs: DataFrame, seg: String, idCol: String,
                                 prioCol: Option[String]): Unit =
    if (hasPriorities) {
      docs.select(col(idCol).as("id"),
          Dedup.prioRank(prioCol.fold(lit(null))(col)).as("prio"))
        .write.mode("overwrite").parquet(s"$path/prio/seg=$seg")
      SegmentedTable.refreshParent(spark, s"$path/prio")
    }

  protected def compactPriorities(folds: Seq[String]): Unit =
    if (hasPriorities)
      SegmentedTable.compact(spark, s"$path/prio", "seg", "base", folds,
        Seq("id", "prio")): Unit
}
