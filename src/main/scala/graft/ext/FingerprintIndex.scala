package graft.ext

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted exact-dedup corpus index: the canonical-content
  * fingerprints ([[TextAnalysis.fingerprint]]) of every kept document,
  * segment-partitioned like its near-dup siblings — completing the
  * {exact, MinHash, semantic} × {batch, incremental} dedup matrix.
  * "Has this delivery's content been kept before, byte-for-byte up to
  * case/punctuation/whitespace?" is the FIRST filter a training-data
  * pipeline runs (it is the cheapest and removes the most), and it must
  * not rescan history to answer.
  *
  * One parquet table under `path`: `fps/seg=<s>/` (id, fp). The batch
  * cross-check is a bare equi-join on the 128-bit fingerprint — AQE
  * broadcasts the batch side, the corpus side streams, nothing
  * quadratic anywhere. Appends are overwrite-per-segment
  * ([[MinHashIndex.append]] contract: replayed micro-batches rewrite
  * their own segment, so index maintenance is exactly-once), a
  * replaying batch hides its own segment via `excludeSeg`, and
  * [[compact]]/[[compactCommitted]] fold committed history through the
  * shared [[SegmentedTable]] protocol.
  *
  * ==Bloom gate==
  *
  * Even broadcast-joined, `dedupBatch` SCANS the whole fps table per
  * batch — at 10¹¹ indexed documents that scan, not the join, is the
  * per-batch cost, and the overwhelmingly common verdict is "never seen
  * before". An index built with `bloom = true` maintains a per-segment
  * Bloom-filter sidecar (`bloom/seg=<s>.bf`, built over xxhash64(fp) by
  * `DataFrame.stat.bloomFilter`, sized to the segment at `fpp`) and
  * [[dedupBatchBloom]] consults the sidecars FIRST: batch fingerprints
  * that hit no segment's filter are definitively new (Bloom filters
  * have no false negatives) and never touch the fps table; only the
  * hit subset — false positives included — pays the exact equi-join,
  * which discharges them, so the result is row-identical to
  * [[dedupBatch]] always. An all-new batch (the steady-state case)
  * costs zero index IO beyond the kilobyte-scale sidecar reads.
  *
  * Sidecar lifecycle mirrors the segments exactly: append overwrites
  * the segment's `.bf` (replay-idempotent), compaction rebuilds the
  * base sidecar from the folded base and deletes the folded ones, and
  * a missing sidecar (index predating the gate, or built with
  * `bloom = false`) degrades [[dedupBatchBloom]] to the exact join —
  * never to a wrong answer. Memory envelope, stated honestly: the
  * gate broadcasts every live sidecar (~1.2 bytes/key at fpp 1%), so
  * it pays off while the indexed-key bloom mass fits executor memory —
  * ~10⁹–10¹⁰ keys; beyond that, raise `fpp` or shard the corpus across
  * indexes before reaching for it.
  */
final class FingerprintIndex private[ext] (val spark: SparkSession,
                                           val path: String,
                                           val fpp: Double = 0.01)
    extends PrioritizedIndex {

  private def fps(excludeSeg: Option[String]): DataFrame = {
    val raw = spark.read.parquet(s"$path/fps")
    excludeSeg.fold(raw)(s => raw.where(col("seg") =!= s))
      .select(col("id"), col("fp"))
  }

  private def fingerprints(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))

  /** Exact-duplicate cross-check of a new batch against the indexed
    * corpus: one row per (batch doc, indexed doc) sharing a
    * fingerprint. A doc re-delivered under an indexed id matches
    * itself, like the near-dup indexes.
    *
    * @return (doc_id, dup_of, fp)
    */
  def dedupBatch(newDocs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 excludeSeg: Option[String] = None): DataFrame =
    fingerprints(newDocs, idCol, textCol).as("x")
      .join(fps(excludeSeg).as("y"), col("x.fp") === col("y.fp"))
      .select(col("x.id").as("doc_id"), col("y.id").as("dup_of"),
        col("x.fp").as("fp"))

  /** [[dedupBatch]] behind the Bloom gate: identical rows, but batch
    * docs whose fingerprint hits no segment sidecar skip the fps scan
    * entirely, and a batch with zero hits returns without touching the
    * index at all. Falls back to the plain exact join when any live
    * segment lacks a sidecar (correctness is never delegated to the
    * filter — the exact join discharges Bloom false positives).
    */
  def dedupBatchBloom(newDocs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      excludeSeg: Option[String] = None): DataFrame = {
    val batch = fingerprints(newDocs, idCol, textCol)
    loadBlooms(excludeSeg) match {
      case None => dedupBatch(newDocs, idCol, textCol, excludeSeg)
      case Some(blooms) =>
        val bc = spark.sparkContext.broadcast(blooms)
        // Row-level filter on the hashed fp keeps the id column's type
        // generic (dedupBatch and the rest of the index API never pin
        // it to Long); localCheckpoint materializes the bloom's tiny
        // survivor set ONCE, so the emptiness probe and the index join
        // don't each re-fingerprint the whole delivery.
        val hits = batch
          .withColumn("hfp", xxhash64(col("fp")))
          .filter((r: org.apache.spark.sql.Row) =>
            bc.value.exists(_.mightContainLong(r.getAs[Long]("hfp"))))
          .drop("hfp")
          .localCheckpoint()
        if (hits.isEmpty)
          // schema-identical empty frame built from the batch alone —
          // the deleted-fps spec pins that this path reads no index
          batch.where(lit(false))
            .select(col("id").as("doc_id"), col("id").as("dup_of"), col("fp"))
        else hits.as("x")
          .join(fps(excludeSeg).as("y"), col("x.fp") === col("y.fp"))
          .select(col("x.id").as("doc_id"), col("y.id").as("dup_of"),
            col("x.fp").as("fp"))
    }
  }

  /** Write a batch's fingerprints into segment `seg` (overwrite that
    * segment only — replay-idempotent). Maintains the segment's Bloom
    * sidecar iff the index was built with the gate on (`bloom/` dir
    * present).
    */
  def append(newDocs: DataFrame, seg: String, idCol: String = "doc_id",
             textCol: String = "text",
             prioCol: Option[String] = None): Unit = {
    val fpDf = fingerprints(newDocs, idCol, textCol)
    fpDf.write.mode("overwrite").parquet(s"$path/fps/seg=$seg")
    SegmentedTable.refreshParent(spark, s"$path/fps")
    appendPriorities(newDocs, seg, idCol, prioCol)
    if (new File(path, "bloom").isDirectory) writeBloom(seg)
  }

  /** Fold appended segments into `base` ([[SegmentedTable.compact]];
    * rows preserved verbatim — every verdict identical before/after).
    * With the gate on, the base sidecar is rebuilt over the folded base
    * and the folded segments' sidecars are deleted.
    */
  def compact(folds: Seq[String]): Seq[String] = {
    val folded = SegmentedTable.compact(spark, s"$path/fps", "seg", "base",
      folds, Seq("id", "fp"))
    compactPriorities(folds)
    if (folded.nonEmpty && new File(path, "bloom").isDirectory) {
      // rebuild base FIRST, then delete the folded sidecars: a crash (or
      // concurrent reader) between the two steps must only ever see
      // leftover folded sidecars (extra false hits, discharged by the
      // exact join — safe), never a STALE base sidecar missing the
      // folded keys, which loadBlooms' completeness check can't detect
      // and which would silently drop duplicates (false negatives).
      writeBloom("base")
      folded.foreach(s => new File(path, s"bloom/seg=$s.bf").delete(): Unit)
    }
    folded
  }

  /** Build segment `seg`'s Bloom sidecar from its persisted fps (sized
    * to the segment's row count at `fpp`; distributed aggregation via
    * `stat.bloomFilter`, driver holds only the finished bits).
    */
  private def writeBloom(seg: String): Unit = {
    val segFps = spark.read.parquet(s"$path/fps/seg=$seg")
    val n = math.max(segFps.count(), 1L)
    // an EMPTY segment (a batch whose documents all dropped) must still
    // get a sidecar — stat.bloomFilter NPEs on zero rows (its aggregated
    // buffer stays null), and a missing sidecar would permanently
    // degrade the whole gate to the exact join (the all-or-nothing rule
    // in `blooms`). An empty filter of the right shape says "no hits",
    // which is exactly the truth for an empty segment.
    val bf =
      if (segFps.isEmpty)
        org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
      else segFps.stat.bloomFilter(xxhash64(col("fp")), n, fpp)
    val f = new File(path, s"bloom/seg=$seg.bf")
    val out = Files.newOutputStream(f.toPath)
    try bf.writeTo(out) finally out.close()
  }

  /** Every live segment's sidecar, or None when the gate is off or some
    * fps segment lacks one (the gate must never silently skip an
    * unfiltered segment — degrade to the exact join instead). The
    * sidecar listing, not the fps listing, is the gate's source of
    * truth: a sidecar whose segment is gone only adds discharged false
    * hits, never false negatives.
    */
  private def loadBlooms(excludeSeg: Option[String]): Option[Seq[BloomFilter]] = {
    val bloomDir = new File(path, "bloom")
    if (!bloomDir.isDirectory) return None
    val sidecars = Option(bloomDir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("seg=")
        && f.getName.endsWith(".bf"))
      .map(_.getName.stripPrefix("seg=").stripSuffix(".bf"))
      .toSet
    val fpSegs = Option(new File(path, "fps").listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName.stripPrefix("seg="))
      .toSet
    if (!(fpSegs -- excludeSeg.toSet).subsetOf(sidecars)) return None
    val live = (sidecars -- excludeSeg.toSet).toSeq.sorted
    Some(live.map { s =>
      val in = Files.newInputStream(new File(bloomDir, s"seg=$s.bf").toPath)
      try BloomFilter.readFrom(in) finally in.close()
    })
  }
}

object FingerprintIndex {

  /** Build and persist over a kept corpus (replaces anything at `path`).
    * `bloom = true` turns the Bloom gate on for this index's lifetime:
    * every append/compact maintains per-segment sidecars and
    * [[FingerprintIndex.dedupBatchBloom]] can skip the fps scan.
    */
  def build(docs: DataFrame, path: String, idCol: String = "doc_id",
            textCol: String = "text", bloom: Boolean = false,
            fpp: Double = 0.01,
            prioCol: Option[String] = None): FingerprintIndex = {
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    if (bloom) Files.createDirectories(Paths.get(path, "bloom"))
    if (prioCol.isDefined) Files.createDirectories(Paths.get(path, "prio"))
    val idx = new FingerprintIndex(docs.sparkSession, path, fpp)
    idx.append(docs, seg = "base", idCol = idCol, textCol = textCol,
      prioCol = prioCol)
    idx
  }

  def load(spark: SparkSession, path: String): FingerprintIndex =
    new FingerprintIndex(spark, path)
}
